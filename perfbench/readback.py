"""Read a warehouse back through the program's own read path and time it.

One pass reads every sampled table with ``DemuxSink.read_table`` and
scans ``readings`` and ``_dead_letter`` in full.  The first pass warms
the session and is not timed; the median of the timed passes is the
result.  Prints one JSON object: the timed passes, and the rows each
sampled table returned (for the correctness check).

    python3 perfbench/readback.py --warehouse wh --tables s0001,s0002
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPS = 3  # timed passes


def one_pass(spark, sink, tables: list[str]) -> tuple[float, dict]:
    from pyspark.sql import functions as F

    rows: dict = {}
    t = time.monotonic()
    for table in tables:
        rows[table] = [tuple(r) for r in sink.read_table(table).collect()]
    readings = os.path.join(sink.warehouse_dir, "readings")
    if os.path.isdir(readings):
        rows["readings"] = [
            tuple(r)
            for r in spark.read.parquet(readings)
            .groupBy("table_name")
            .agg(F.count(F.lit(1)), F.sum("value_num"), F.count("value_str"))
            .collect()
        ]
    dead = os.path.join(sink.warehouse_dir, "_dead_letter")
    if os.path.isdir(dead):
        rows["_dead_letter"] = [
            tuple(r) for r in spark.read.parquet(dead).groupBy("reject_reason").count().collect()
        ]
    return time.monotonic() - t, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--tables", default="")
    args = ap.parse_args()

    from mqtt2clickhouse_spark.ingest.sink import DemuxSink
    from mqtt2clickhouse_spark.session import get_spark

    tables = [t for t in args.tables.split(",") if t]
    spark = get_spark("perfbench-readback")
    try:
        sink = DemuxSink(spark, args.warehouse)
        one_pass(spark, sink, tables)
        passes, rows = [], {}
        for _ in range(REPS):
            dt, rows = one_pass(spark, sink, tables)
            passes.append(dt)
    finally:
        spark.stop()
    print(json.dumps({"passes_s": passes, "scan_s": statistics.median(passes),
                      "rows": rows}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
