#!/usr/bin/env python
"""Benchmark harness: run the declared query surface at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect overhead).  Stderr carries progress; stdout is
exactly the JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

from mqtt2clickhouse_spark.queries import QUERIES
from mqtt2clickhouse_spark.session import get_spark

#: The 51 query names BENCH_r01.json recorded, frozen so
#: ``subtotal_r01_surface`` always sums the same set (the round-2 bench
#: derived it from a stale exclusion list and silently folded 16 new
#: queries into the "round-1" subtotal).
_R01_SURFACE = frozenset({
    "asof_join", "corpus_prep", "cube_rollup", "datetime_math",
    "dedup_components", "dedup_embedding", "dedup_exact", "dedup_jaccard",
    "dedup_minhash_pairs", "dedup_minhash_sig", "dedup_simhash",
    "distinct_agg", "distinct_approx", "embedding_centroid",
    "filter_project", "grouping_sets", "hash_split", "join_anti",
    "join_inner", "join_left", "join_semi", "json_extract", "lang_id",
    "map_ops", "mqtt_pipeline", "multimodal_features", "multimodal_frames",
    "multimodal_meta", "percentiles", "pivot_table", "q1_pricing_summary",
    "range_join", "scalar_subquery", "sessionize", "set_ops",
    "similarity_ann_ivf", "similarity_topk", "skew_salted_join",
    "sliding_window", "sort_limit", "string_funcs", "text_fingerprint",
    "text_quality", "text_tokens", "tfidf_top_terms", "time_window",
    "token_count_bpe", "topic_parse", "variant_extract", "window_rank",
    "window_running",
})


def _source_digest() -> str:
    """First 16 hex digits of one sha256 over the sorted relative paths
    and bytes of every ``.py`` in the package: two runs with equal
    digests measured the same code."""
    import hashlib
    import pathlib

    root = pathlib.Path(__file__).resolve().parent
    h = hashlib.sha256()
    for path in sorted(root.glob("mqtt2clickhouse_spark/**/*.py")):
        h.update(path.relative_to(root).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def _release_session_state(spark) -> None:
    """Drop blocks the previous query pinned so 80 queries in ONE session
    time like 80 fresh sessions.

    ``localCheckpoint(eager=False)`` persists its RDD (deserialized
    memory-and-disk); those blocks outlive the query and are reclaimed
    only when the async ContextCleaner notices the RDD is unreachable —
    which across 80 queries x 2 passes lets hundreds of MB of dead
    blocks crowd the block manager (the round-2 cross-round regression:
    queries untouched since round 1 ran ~2x slower mid-session).
    ``getPersistentRDDs`` + explicit unpersist is deterministic; the
    Python gc releases the Py4J handles so the cleaner can also reap
    broadcast variables.
    """
    import gc

    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception:  # pragma: no cover - diagnostic path only
        pass
    spark.catalog.clearCache()
    gc.collect()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    spark = get_spark("bench")

    def _loadavg():
        try:
            return [round(x, 2) for x in os.getloadavg()]
        except OSError:  # pragma: no cover
            return None

    # Machine state at measurement START — with the end reading below,
    # the committed artifact carries its own noise classification
    # instead of leaving forensics to a NOTES postmortem.
    load_avg_start = _loadavg()

    # Warm the JVM/codegen once with a trivial job so the first measured
    # query doesn't pay session startup.
    spark.range(1000).selectExpr("sum(id)").collect()

    # Machine-speed calibration (r14: the round's three clean-box runs
    # read 280/238/216s on the SAME tree, same flags, minutes apart —
    # a uniform host-speed drift that load averages cannot see and that
    # r13 could only attribute by hand).  Two fixed-work probes, timed
    # min-of-3 each, stamp the box's speed INTO the artifact so a
    # cross-round uniform drift is divided out instead of adjudicated:
    # a single-thread CPython loop (interpreter+core speed) and a fixed
    # 32-partition Spark aggregate (JVM + scheduler fixed overhead, the
    # term small queries feel as a constant).  Compare per-query deltas
    # only after checking these two read comparably.
    def _calibrate() -> dict:
        def _mo3(fn) -> float:
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best, 4)

        def _cpu():
            s = 0
            for i in range(5_000_000):
                s += i * i
            return s

        def _spark_fixed():
            spark.range(0, 50_000_000, 1, 32).selectExpr(
                "sum(id * 3 % 7)"
            ).collect()

        return {
            "cpu_single_thread_sec": _mo3(_cpu),
            "spark_fixed_job_sec": _mo3(_spark_fixed),
        }

    calibration = _calibrate()
    print(f"calibration: {calibration}", file=sys.stderr)

    # Two passes per query, report the min: pass 1 pays one-time codegen /
    # shuffle-file warmup and absorbs transient machine load; the min is
    # the reproducible steady-state cost of the plan.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        best = float("inf")
        for _ in range(passes):
            start = time.perf_counter()
            df = spec.spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)
        print(f"{name}: {timings[name]:.3f}s", file=sys.stderr)
        _release_session_state(spark)

    # Ingest throughput (BASELINE.md "engine-side metrics"): rows/sec
    # through the full parse → route → demux-write path, versus the
    # reference's one-INSERT-per-message design.
    import shutil
    import tempfile

    from mqtt2clickhouse_spark.ingest.sink import DemuxSink
    from mqtt2clickhouse_spark.queries.ingest_queries import _messages
    from mqtt2clickhouse_spark.tables import fan_out, load_table

    wh = tempfile.mkdtemp(prefix="bench_wh_")
    try:
        # synthesize before fanning out: the repartition moves (topic,
        # payload) only, not the whole events row (see mqtt_pipeline)
        msgs = fan_out(
            _messages(
                load_table(spark, sf_dir, "events").select(
                    "event_id", "user_id", "event_type", "value", "ts"
                )
            )
        )
        n_msgs = msgs.count()
        # Steady-state throughput: batch 0 additionally pays Python
        # worker spin-up, sink table creation, and committer warm-up —
        # one-time costs a long-running ingest daemon amortizes to
        # nothing.  Warm with batch 0, report the best of batches 1-2
        # (same min-of-N treatment the queries get).
        sink = DemuxSink(spark, wh)
        sink.foreach_batch(msgs, 0)
        ingest_sec = float("inf")
        for epoch in (1, 2):
            start = time.perf_counter()
            sink.foreach_batch(msgs, epoch)
            ingest_sec = min(ingest_sec, time.perf_counter() - start)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    ingest_rps = round(n_msgs / ingest_sec, 1)
    print(f"ingest: {n_msgs} msgs in {ingest_sec:.2f}s = {ingest_rps}/s", file=sys.stderr)

    # Self-classifying artifact (VERDICT r8 ask #6): re-measure the N
    # slowest queries min-of-3 in the now-quiet end-of-run session.  A
    # mid-suite reading far above its isolated re-measure is scheduling
    # noise, not plan cost — previously that forensic lived only in
    # NOTES; now the committed BENCH_rN.json carries it.
    n_recheck = int(os.environ.get("SPARK_GRAFT_BENCH_RECHECK", "8"))
    # The measurement-regime label (VERDICT r9) lives in the sibling
    # top-level field "recheck_session", so recheck_slowest's values
    # are uniformly per-query dicts (ADVICE r10): these re-measures run
    # in the warmed end-of-suite session, so store-consumer readings
    # embed warm-cache advantage — suite_over_isolated classifies
    # scheduling noise, it is NOT a cold-start cost model.
    recheck: dict[str, dict[str, float]] = {}
    for name in sorted(timings, key=timings.get, reverse=True)[:n_recheck]:
        spec = QUERIES[name]
        best = float("inf")
        for _ in range(3):
            start = time.perf_counter()
            df = spec.spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
        _release_session_state(spark)
        recheck[name] = {
            "suite": timings[name],
            "isolated_min3": round(best, 3),
            "suite_over_isolated": round(timings[name] / best, 2) if best else 0.0,
        }
        print(
            f"recheck {name}: suite {timings[name]:.3f}s vs isolated "
            f"{best:.3f}s",
            file=sys.stderr,
        )

    # Load gate (VERDICT r9 ask #3): a reading taken on a busy box is
    # classified IN the artifact, not left to forensics.  The round
    # ritual retries once when this fires; the 2x-of-baseline bar
    # should never need the recheck fields to defend it.
    load_gate = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_GATE", "2.0"))
    loaded = bool(load_avg_start) and load_avg_start[0] > load_gate
    if loaded:
        print(
            f"WARNING: load_avg_start {load_avg_start[0]} > gate "
            f"{load_gate} — reading taken on a loaded box, retry on a "
            f"quieter window",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # The round-1 bench covered 51 queries; later rounds add more, which
    # grows the total even when every query got faster.  Emit the
    # subtotal over EXACTLY the round-1 surface (frozen name list ==
    # BENCH_r01.json's keys) so cross-round totals compare
    # apples-to-apples.
    subtotal_r01 = round(
        sum(v for k, v in timings.items() if k in _R01_SURFACE), 3
    )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "n_queries": len(timings),
                "subtotal_r01_surface": subtotal_r01,
                "ingest_rows_per_sec": ingest_rps,
                "load_avg_start": load_avg_start,
                "load_avg": _loadavg(),
                "load_gate": load_gate,
                "loaded_box": loaded,
                "recheck_session": "warm-end-of-suite",
                "recheck_slowest": recheck,
                "calibration": calibration,
                "clean_reference": None if loaded else {
                    "queries": timings,
                    "subtotal_r01_surface": subtotal_r01,
                },
                "plan_digest": _source_digest(),
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
