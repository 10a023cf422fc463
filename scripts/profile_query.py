#!/usr/bin/env python
"""Isolated per-query profiling: min-of-N noop-sink wall time plus the
number of Spark jobs the LAST pass ran (each pass runs in its own job
group).

Usage: PYTHONPATH=. python scripts/profile_query.py q1 [q2 ...] [--passes 3]
"""

from __future__ import annotations

import os
import sys
import time


def main() -> None:
    passes = 3
    args = sys.argv[1:]
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    names = args

    from mqtt2clickhouse_spark.queries import QUERIES
    from mqtt2clickhouse_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm

    from bench import _release_session_state

    sc = spark.sparkContext
    for name in names:
        spec = QUERIES[name]
        best = float("inf")
        times = []
        for i in range(passes):
            # one job group per pass, so the count below covers the last
            # pass of this query only
            group = f"profile:{name}:{i}"
            sc.setJobGroup(group, f"{name} pass {i + 1}/{passes}")
            t0 = time.perf_counter()
            df = spec.spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            times.append(round(dt, 3))
            best = min(best, dt)
            _release_session_state(spark)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        print(f"{name}: min {best:.3f}s  passes={times}  jobs_last_pass={len(jobs)}")


if __name__ == "__main__":
    main()
