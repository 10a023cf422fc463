package mqtt2clickhouse_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, except that a plain rwx mode is set
 * with chmod(2) through java.nio instead of a forked chmod process (what stock
 * Hadoop does when libhadoop is absent). Modes with setuid/setgid/sticky bits
 * take the stock path. Fs is the same thing for FileContext users.
 */
public class NioLocalFileSystem extends LocalFileSystem {
    public NioLocalFileSystem() { super(new Raw()); }

    public static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission permission) throws IOException {
            int mode = permission.toShort();
            if ((mode & ~0777) != 0) {
                super.setPermission(p, permission);
                return;
            }
            char[] rwx = new char[9];
            for (int i = 0; i < 9; i++) {
                rwx[i] = (mode & (0400 >> i)) != 0 ? "rwx".charAt(i % 3) : '-';
            }
            Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(new String(rwx)));
        }
    }

    /** org.apache.hadoop.fs.local.LocalFs over Raw. */
    public static class Fs extends ChecksumFs {
        public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException { super(new RawFs(conf)); }
    }

    /** org.apache.hadoop.fs.local.RawLocalFs over Raw. */
    static class RawFs extends DelegateToFileSystem {
        RawFs(Configuration conf) throws IOException, URISyntaxException {
            super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
        }
        @Override public int getUriDefaultPort() { return -1; }
        @Override public FsServerDefaults getServerDefaults() throws IOException { return LocalConfigKeys.getServerDefaults(); }
        @Override public FsServerDefaults getServerDefaults(Path f) throws IOException { return LocalConfigKeys.getServerDefaults(); }
        @Override public boolean isValidName(String src) { return true; }
    }
}
