"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (one JVM); the configs below are chosen so
the same code scales to a multi-executor cluster at ~100 TB:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — essential at scale where static
  estimates are wrong.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static number mostly irrelevant as
  long as it is an upper bound.
- Arrow enabled for any pandas-UDF path.
- Session timezone pinned to UTC so results compare bit-for-bit with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- The ``file:`` file system rebound to ``jvm/NioLocalFileSystem.java``.
  Without libhadoop (absent from Spark's binary distribution) stock Hadoop
  forks a ``chmod`` process for every local file, ``.crc`` sidecar and
  directory it creates, which bounds a many-file partitioned write. The
  rebound class sets plain rwx modes with ``chmod(2)`` through java.nio and
  leaves everything else stock: ``.crc`` checksums, the bytes written, the
  modes, and the sticky/setuid bits (forked as before). It covers both
  ``FileSystem`` users (writers) and ``FileContext`` users (the streaming
  checkpoint). The source is compiled once with the Janino compiler in
  ``$SPARK_HOME/jars`` and cached under ``$XDG_CACHE_HOME`` (or
  ``~/.cache``). The binding needs the class on the driver's class path, so
  it is made only when ``get_spark`` itself starts the JVM and
  ``PYSPARK_SUBMIT_ARGS`` sets no other driver class path; otherwise, or if
  the compile fails, the session is stock Hadoop.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_NIO_FS_SOURCE = Path(__file__).parent / "jvm" / "NioLocalFileSystem.java"
_NIO_FS_CLASS = "mqtt2clickhouse_spark.jvm.NioLocalFileSystem"


def _compile_nio_local_fs() -> Path:
    """The class directory of ``jvm/NioLocalFileSystem.java``, compiled with
    Spark's own Janino on first use and cached by source and jar set."""
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar")))
    names = [os.path.basename(j) for j in jars]
    compiler = [j for j, n in zip(jars, names) if n.startswith(("janino-", "commons-compiler-"))]
    if len(compiler) != 2:
        raise FileNotFoundError("no janino/commons-compiler jars in $SPARK_HOME/jars")
    source = _NIO_FS_SOURCE.read_bytes()
    digest = hashlib.sha256(source + "\n".join(names).encode()).hexdigest()[:16]
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "mqtt2clickhouse_spark"
    out = cache / f"jvm-{digest}"
    class_file = Path(*_NIO_FS_CLASS.split(".")).with_suffix(".class")
    if (out / class_file).is_file():
        return out
    cache.mkdir(parents=True, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=cache)
    try:
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        subprocess.run([java, "-cp", os.pathsep.join(compiler),
                        "org.codehaus.commons.compiler.samples.CompilerDemo",
                        "-d", tmp, "-classpath", os.pathsep.join(jars), str(_NIO_FS_SOURCE)],
                       check=True, capture_output=True, timeout=120)
        if not (Path(tmp) / class_file).is_file():
            raise FileNotFoundError(class_file)
        try:
            os.replace(tmp, out)
        except OSError:
            if not (out / class_file).is_file():  # not a concurrent compile that got there first
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _bind_nio_local_fs(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Bind ``file:`` to ``NioLocalFileSystem`` on a JVM this call starts."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder  # the JVM is up: its class path and file system are fixed
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-class-path" in submit or "spark.driver.extraClassPath" in submit:
        reason = "PYSPARK_SUBMIT_ARGS sets the driver class path"
    else:
        try:
            classes = _compile_nio_local_fs()
        except (OSError, subprocess.SubprocessError) as e:
            reason = f"compiling {_NIO_FS_SOURCE.name} failed ({type(e).__name__})"
        else:
            return (builder.config("spark.driver.extraClassPath", str(classes))
                    .config("spark.hadoop.fs.file.impl", _NIO_FS_CLASS)
                    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", _NIO_FS_CLASS + "$Fs"))
    print(f"mqtt2clickhouse_spark: stock local file system ({reason}); "
          "each local file write forks chmod", file=sys.stderr)
    return builder


def get_spark(app_name: str = "mqtt2clickhouse_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    spark = _bind_nio_local_fs(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-provided session.

    The driver harness hands us its own SparkSession; these confs are the
    subset we rely on for oracle parity and sane local parallelism, all
    settable after session start.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    return spark
