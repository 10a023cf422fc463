"""``get_spark``'s local file system: ``jvm/NioLocalFileSystem.java`` sets
plain rwx modes in-process instead of forking ``chmod``, and otherwise
leaves the written trees exactly as stock Hadoop leaves them.

The comparison runs in child Pythons, because the binding is fixed when a
JVM starts: each child starts its own, with a logging ``chmod`` first on
``PATH``."""

import os
import re
import shutil
import stat
import subprocess
import sys
from pathlib import Path

from mqtt2clickhouse_spark.session import _NIO_FS_CLASS

ROOT = Path(__file__).resolve().parent.parent

# argv: mode ("get_spark" | "stock"), output dir.  Writes a 20-table
# partitioned parquet append twice, an ORC file and a two-batch ingest
# stream with its checkpoint, then prints the session's fs.file.impl.
_CHILD = r"""
import json, sys
from pathlib import Path
from pyspark.sql import SparkSession, functions as F
from mqtt2clickhouse_spark.ingest.sink import DemuxSink
from mqtt2clickhouse_spark.session import get_spark
from mqtt2clickhouse_spark.streaming import run_ingest_stream, stream_messages_from_dir

mode, out = sys.argv[1], Path(sys.argv[2])
if mode == "get_spark":
    spark = get_spark("test_session", cpus=2)
else:  # stock Hadoop, with the confs of get_spark that shape a plan
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
df = spark.range(400).select("id", F.concat(F.lit("t"), F.col("id") % 20).alias("table_name"))
for _ in range(2):
    df.write.mode("append").partitionBy("table_name").parquet(str(out / "parquet"))
df.write.orc(str(out / "orc"))
src = out / "src"
src.mkdir()
sink = DemuxSink(spark, str(out / "wh"))
for name, rows in (("a", 30), ("b", 30)):
    msgs = [{"topic": f"/c0/dev{i % 3}/out/sensors/s{i % 7}", "payload": json.dumps({"value": i}),
             "seq": i, "ingest_ts": "2024-01-01T00:00:00.000Z"} for i in range(rows)]
    msgs.append({"topic": "bad-topic", "payload": "{}", "seq": rows,
                 "ingest_ts": "2024-01-01T00:00:00.000Z"})
    (src / f"{name}.json").write_text("\n".join(json.dumps(m) for m in msgs))
    q = run_ingest_stream(stream_messages_from_dir(spark, str(src)), sink,
                          str(out / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
assert sink.read_table("s0").count() == 10, sink.read_table("s0").count()
print("FS_IMPL", spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"))
spark.stop()
"""

_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _logging_chmod(tmp_path: Path) -> Path:
    """A ``bin`` dir whose ``chmod`` appends its argv to ``$CHMOD_LOG``."""
    real = shutil.which("chmod")
    bindir = tmp_path / "bin"
    bindir.mkdir()
    wrapper = bindir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec {real} "$@"\n')
    wrapper.chmod(0o755)
    return bindir


def _run_child(tmp_path: Path, mode: str, env_extra: dict | None = None,
               script: str = _CHILD) -> tuple[Path, list[str], str]:
    out = tmp_path / mode
    out.mkdir()
    log = tmp_path / f"{mode}.chmod.log"
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS")}
    env.update({
        "PATH": os.pathsep.join([str(_logging_chmod(out)), env["PATH"]]),
        "CHMOD_LOG": str(log),
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p]),
    })
    env.update(env_extra or {})
    proc = subprocess.run([sys.executable, "-c", script, mode, str(out / "data")],
                          cwd=str(out), env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    launches = log.read_text().splitlines() if log.exists() else []
    return out / "data", launches, proc.stdout + proc.stderr


def _tree(root: Path) -> list[tuple[str, str]]:
    """Sorted (relative path with UUIDs masked, octal st_mode) for every
    file and dir; two appends repeat a masked path, so it is a list."""
    tree = []
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            p = Path(dirpath) / name
            tree.append((_UUID.sub("<uuid>", p.relative_to(root).as_posix()), oct(p.lstat().st_mode)))
    return sorted(tree)


def test_get_spark_forks_no_chmod_and_writes_stock_trees(tmp_path):
    nio, nio_chmods, nio_out = _run_child(tmp_path, "get_spark")
    stock, stock_chmods, stock_out = _run_child(tmp_path, "stock")
    assert f"FS_IMPL {_NIO_FS_CLASS}" in nio_out
    assert "FS_IMPL None" in stock_out
    assert nio_chmods == []
    assert len(stock_chmods) > 60
    nio_tree, stock_tree = _tree(nio), _tree(stock)
    assert any(p.endswith(".crc") for p, _ in nio_tree)
    assert any(p.startswith("ckpt/commits/") for p, _ in nio_tree)
    assert [p for p, _ in nio_tree] == [p for p, _ in stock_tree]
    assert nio_tree == stock_tree  # and every st_mode


def test_mode_bits_set_in_process_and_special_bits_fall_through(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getRaw().getClass().getName() == _NIO_FS_CLASS + "$Raw"
    for mode in (0o640, 0o700, 0o1777):
        p = tmp_path / f"d{mode:o}"
        p.mkdir()
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"))
        assert stat.S_IMODE(p.stat().st_mode) == mode


_FALLBACK_CHILD = r"""
import sys
from mqtt2clickhouse_spark.session import get_spark
spark = get_spark("test_session_fallback", cpus=2)
out = sys.argv[2]
spark.range(40).selectExpr("id", "concat('t', id % 4) AS table_name") \
    .write.partitionBy("table_name").parquet(out)
n = spark.read.parquet(out).where("table_name = 't1'").count()
print("FS_IMPL", spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"), "ROWS", n)
spark.stop()
"""


def test_get_spark_stays_stock_when_submit_args_set_a_class_path(tmp_path):
    """A driver class path in PYSPARK_SUBMIT_ARGS replaces the one get_spark
    would set, so binding the class there would break every local write."""
    other = tmp_path / "other_classes"
    other.mkdir()
    submit = f"--driver-class-path {other} pyspark-shell"
    _, chmods, out = _run_child(tmp_path, "fallback", {"PYSPARK_SUBMIT_ARGS": submit},
                                script=_FALLBACK_CHILD)
    assert "FS_IMPL None ROWS 10" in out
    assert "stock local file system (PYSPARK_SUBMIT_ARGS sets the driver class path)" in out
    assert len(chmods) > 0
