#!/usr/bin/env python
"""Empirical scale probe (VERDICT r8 stretch #8): confirm the documented
O() claims of the most shuffle-intensive families by measuring them at
sf0.1 AND at an R×-replicated fixture (default R=10 — sf1-equivalent).

Replication is BLOCK-DIAGONAL: each replica gets a disjoint key space
(orderkey/suppkey/custkey/doc_id strides) and, for documents, a
disjoint shingle space (every word is suffixed with the replica id) —
so the degree distribution, per-shingle document frequency, and
near-dup structure of each block match sf0.1 exactly while total rows
scale R×.  That makes the measured exponent interpretable: a
linear-shuffle query should land near 1.0, a per-block-quadratic one
would drift above it.  (Cross-block edges/similarity are deliberately
zero; the probe measures data-volume scaling of the PLAN, not graph
diameter growth.)

    python scripts/scale_probe.py                 # R=10, default set
    SPARK_GRAFT_PROBE_R=30 python scripts/scale_probe.py

Prints a markdown table (paste into NOTES.md): per query, the sf0.1
and probe wall-times (min-of-2 after a warm build pass), their ratio,
and the scaling exponent log(ratio)/log(R).  Store builds (edge view,
co-purchase edges, shingle + MinHash signature stores) are timed
separately — they are one-time ingest-side costs, not query costs.
Derived tables live for one Spark session, so every build timed here
is cold.
"""

from __future__ import annotations

import atexit
import functools
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = "/root/testdata/sf0.1"
R = int(os.environ.get("SPARK_GRAFT_PROBE_R", "10"))


@functools.cache
def run_dir() -> str:
    """This run's fixture directory, made on first use under ``TMPDIR``
    and removed at exit: every run builds its fixtures afresh, so an
    edit to the replication code is measured on its own output."""
    d = tempfile.mkdtemp(prefix="sparkgraft_probe_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def probe_dir() -> str:
    return os.path.join(run_dir(), f"probe_r{R}")


#: key strides — far above any sf0.1 key so replica spaces are disjoint
STRIDE = 100_000_000

#: the probed families: graph rounds (iterative joins over the edge
#: store) and set-similarity joins (the per-shingle quadratic term)
QUERY_NAMES = [
    "pagerank_directed",
    "graph_modularity",
    "triangle_count",
    "graph_kcore",
    "link_prediction_ra",
    "dedup_minhash_pairs",
    "setjoin_prefix_filter",
]


def build_probe_fixture(spark) -> None:
    """R× block-diagonal replication of lineitem / orders / documents."""
    from pyspark.sql import functions as F

    rep = F.col("rep")

    def replicate(name: str, cols: dict) -> None:
        df = spark.read.parquet(os.path.join(SMALL, f"{name}.parquet"))
        reps = spark.range(R).withColumnRenamed("id", "rep")
        out = df.crossJoin(reps)
        for c, expr in cols.items():
            out = out.withColumn(c, expr)
        out.drop("rep").write.mode("overwrite").parquet(
            os.path.join(probe_dir(), f"{name}.parquet")
        )

    replicate(
        "lineitem",
        {
            "l_orderkey": F.col("l_orderkey") + rep * STRIDE,
            "l_suppkey": F.col("l_suppkey") + rep * STRIDE,
            "l_partkey": F.col("l_partkey") + rep * STRIDE,
        },
    )
    replicate(
        "orders",
        {
            "o_orderkey": F.col("o_orderkey") + rep * STRIDE,
            "o_custkey": F.col("o_custkey") + rep * STRIDE,
        },
    )
    replicate(
        "events",
        {
            "event_id": F.col("event_id") + rep * STRIDE,
            "user_id": F.col("user_id") + rep * STRIDE,
        },
    )
    replicate(
        "documents",
        {
            "doc_id": F.col("doc_id") + rep * STRIDE,
            # disjoint shingle space per replica: suffix every word with
            # the replica id (block-diagonal similarity structure)
            "text": F.regexp_replace(
                F.col("text"),
                F.lit(r"(\S+)"),
                F.concat(F.lit("$1r"), rep.cast("string")),
            ),
        },
    )


def time_noop(spark, fn, sf_dir: str, passes: int = 2) -> float:
    best = float("inf")
    for _ in range(passes):
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    return best


def release(spark) -> None:
    import gc

    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception:
        pass
    spark.catalog.clearCache()
    gc.collect()


def main() -> None:
    from mqtt2clickhouse_spark.ops.dedup import (
        minhash_signature_store,
        shingle_store,
    )
    from mqtt2clickhouse_spark.queries import QUERIES
    from mqtt2clickhouse_spark.queries.base import t
    from mqtt2clickhouse_spark.queries.graph_queries import (
        _copurchase_edges,
        _weighted_pairs,
    )
    from mqtt2clickhouse_spark.session import get_spark

    spark = get_spark("scale_probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    print(f"building probe fixture R={R} under {probe_dir()} ...", file=sys.stderr)
    t0 = time.perf_counter()
    build_probe_fixture(spark)
    print(f"fixture build: {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    # store builds, timed per scale (one-time ingest-side costs)
    builds: dict[str, tuple[float, float]] = {}
    for label, build in (
        ("edge_store", lambda d: _weighted_pairs(spark, d).count()),
        ("cop_store", lambda d: _copurchase_edges(spark, d).count()),
        ("shingle_store", lambda d: shingle_store(
            t(spark, d, "documents"), d).count()),
        ("minhash_store", lambda d: minhash_signature_store(
            t(spark, d, "documents"), d).count()),
    ):
        ts = {}
        for d in (SMALL, probe_dir()):
            start = time.perf_counter()
            build(d)
            ts[d] = time.perf_counter() - start
            release(spark)
        builds[label] = (ts[SMALL], ts[probe_dir()])
        print(
            f"{label}: sf0.1 {ts[SMALL]:.2f}s  probe {ts[probe_dir()]:.2f}s",
            file=sys.stderr,
        )

    rows = []
    for name in QUERY_NAMES:
        fn = QUERIES[name].spark_fn
        t_small = time_noop(spark, fn, SMALL)
        release(spark)
        t_big = time_noop(spark, fn, probe_dir())
        release(spark)
        ratio = t_big / t_small
        exponent = math.log(ratio) / math.log(R)
        rows.append((name, t_small, t_big, ratio, exponent))
        print(
            f"{name}: sf0.1 {t_small:.2f}s  probe {t_big:.2f}s  "
            f"ratio {ratio:.2f}  exp {exponent:.2f}",
            file=sys.stderr,
        )

    # ingest throughput scaling: the reference's core path (parse →
    # route → demux write) at both scales — warm batch 0, report
    # min-of-2 rows/s like bench.py
    import shutil as _shutil
    import tempfile as _tempfile

    from mqtt2clickhouse_spark.ingest.sink import DemuxSink
    from mqtt2clickhouse_spark.queries.ingest_queries import _messages
    from mqtt2clickhouse_spark.tables import fan_out as _fan_out
    from mqtt2clickhouse_spark.tables import load_table

    ingest: dict[str, float] = {}
    for d in (SMALL, probe_dir()):
        wh = _tempfile.mkdtemp(prefix="probe_wh_")
        try:
            msgs = _fan_out(
                _messages(
                    load_table(spark, d, "events").select(
                        "event_id", "user_id", "event_type", "value", "ts"
                    )
                )
            )
            n = msgs.count()
            sink = DemuxSink(spark, wh)
            sink.foreach_batch(msgs, 0)
            best = float("inf")
            for epoch in (1, 2):
                start = time.perf_counter()
                sink.foreach_batch(msgs, epoch)
                best = min(best, time.perf_counter() - start)
        finally:
            _shutil.rmtree(wh, ignore_errors=True)
        ingest[d] = n / best
        release(spark)
        print(f"ingest {d}: {n} msgs, {ingest[d]:.0f} rows/s", file=sys.stderr)

    print(f"\n## Scale probe: sf0.1 vs {R}x block-diagonal replica\n")
    print("| query | sf0.1 (s) | R=%d (s) | ratio | exponent |" % R)
    print("|---|---|---|---|---|")
    for name, a, b, r, e in rows:
        print(f"| {name} | {a:.2f} | {b:.2f} | {r:.2f}x | {e:.2f} |")
    print("\n(store builds, one-time)\n")
    print("| store | sf0.1 (s) | R=%d (s) | ratio |" % R)
    print("|---|---|---|---|")
    for label, (a, b) in builds.items():
        print(f"| {label} | {a:.2f} | {b:.2f} | {b / a:.2f}x |")
    print(
        f"\ningest throughput: sf0.1 {ingest[SMALL]:.0f} rows/s; "
        f"R={R} {ingest[probe_dir()]:.0f} rows/s "
        f"({ingest[probe_dir()] / ingest[SMALL]:.2f}x)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
