"""The session-scoped derived tables (ops.store.materialized).

Six derived tables are built once per Spark session and read back as
parquet by their consumers: the graph family's trade-edge view, the LPA
labels, the co-purchase edges, the trained k-means pivots, the shingle
table and the MinHash signatures.  These tests pin the contract: each
stored table equals its direct computation, it is built once per
session, its consumers scan it instead of recomputing it, and it does
not outlive the process that built it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from urllib.parse import urlparse

import pytest
from pyspark import SparkFiles
from pyspark.sql import functions as F

from mqtt2clickhouse_spark.queries.graph_queries import _trade_pairs
from mqtt2clickhouse_spark.queries.base import t

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def sf_copy(tmp_path):
    """A private copy of the fixture so mtimes are ours to control."""
    for name in ("lineitem", "orders"):
        shutil.copyfile(
            os.path.join(SF_DIR, f"{name}.parquet"),
            tmp_path / f"{name}.parquet",
        )
    return str(tmp_path)


def _direct_pairs(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )


def test_cache_contents_match_direct_computation(spark, sf_copy):
    cached = {tuple(r) for r in _trade_pairs(spark, sf_copy).collect()}
    direct = {tuple(r) for r in _direct_pairs(spark, sf_copy).collect()}
    assert cached == direct and cached


def test_cache_is_write_once(spark, sf_copy):
    """Built once per session: the table lives under the session's
    SparkFiles root, and a second call reads it without rewriting."""
    files = _trade_pairs(spark, sf_copy).inputFiles()
    path = os.path.dirname(urlparse(files[0]).path)
    assert path.startswith(os.path.join(SparkFiles.getRootDirectory(), "derived"))
    marker = os.path.join(path, "_SUCCESS")
    first_write = os.path.getmtime(marker)
    _trade_pairs(spark, sf_copy).count()
    assert os.path.getmtime(marker) == first_write, "cache was rewritten"


def test_materialized_rebuilds_a_partial_write(spark):
    """A write that crashed before Spark's _SUCCESS marker is rebuilt on
    the next call; a complete one is read back without rebuilding."""
    from mqtt2clickhouse_spark.ops.store import materialized

    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    first = materialized(spark, "test:partial", lambda: df)
    path = os.path.dirname(urlparse(first.inputFiles()[0]).path)
    os.remove(os.path.join(path, "_SUCCESS"))  # what a crashed write leaves
    rebuilt = materialized(spark, "test:partial", lambda: df.filter("id < 5"))
    assert sorted(r.id for r in rebuilt.collect()) == list(range(5))
    kept = materialized(spark, "test:partial", lambda: df)
    assert sorted(r.id for r in kept.collect()) == list(range(5))


def test_cached_pivots_equal_direct_training(spark, tmp_path):
    """The trained-quantizer materialization (ops.similarity.
    kmeans_pivots_cached) must return the exact matrix a direct
    kmeans_pivots call computes — training is deterministic, so any
    divergence means the cache key or the write is wrong."""
    from mqtt2clickhouse_spark.ops.similarity import (
        kmeans_pivots,
        kmeans_pivots_cached,
    )

    shutil.copyfile(
        os.path.join(SF_DIR, "embeddings.parquet"),
        tmp_path / "embeddings.parquet",
    )
    sf = str(tmp_path)
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    direct = {
        r["pivot_id"]: tuple(r["pv"])
        for r in kmeans_pivots(emb, k=8, iters=2).collect()
    }
    cached = {
        r["pivot_id"]: tuple(r["pv"])
        for r in kmeans_pivots_cached(emb, sf, k=8, iters=2).collect()
    }
    assert cached == direct and len(cached) == 8
    # second call reuses the on-disk matrix (write-once)
    again = {
        r["pivot_id"]: tuple(r["pv"])
        for r in kmeans_pivots_cached(emb, sf, k=8, iters=2).collect()
    }
    assert again == direct


def _plan_of(spark, name: str) -> str:
    from mqtt2clickhouse_spark.queries import QUERIES

    df = QUERIES[name].spark_fn(spark, "/root/testdata/sf0.001")
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_graph_queries_scan_the_edge_store_not_the_join(spark):
    """Regression guard for the round-8 materializations: the shared
    pair table must be a plain parquet read of the edge store, and
    pagerank must NOT re-plan the lineitem⋈orders distinct join (the
    exact cost the store removes — its pinned edges show up as Scan
    ExistingRDD, so the absence of the base-table scans is the
    observable)."""
    from mqtt2clickhouse_spark.queries.graph_queries import _trade_pairs

    pairs = _trade_pairs(spark, "/root/testdata/sf0.001")
    pairs.count()  # ensure built
    pairs_plan = spark._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    assert "derived/edges_" in pairs_plan
    assert "lineitem" not in pairs_plan
    plan = _plan_of(spark, "pagerank")
    assert "lineitem" not in plan and "orders.parquet" not in plan


def test_dedup_queries_scan_the_signature_store_not_the_udf(spark, monkeypatch):
    """dedup_minhash_pairs must read the signature store parquet — no
    shingling ArrowEvalPython and no documents scan at query time.

    Since r16 the LSH banding pass is localCheckpoint-pinned under the
    bucket cap, so the store scan shows as Scan ExistingRDD in the
    final plan (the jaccard test's situation).  Same two-part guard:
    (1) the store function's OWN plan is a pure parquet read of
    derived/minhash_, and (2) the query provably routes through
    minhash_signature_store (a revert to inline signatures stops
    calling it and goes red)."""
    from mqtt2clickhouse_spark.ops import dedup as dd
    from mqtt2clickhouse_spark.queries import dedup_queries
    from mqtt2clickhouse_spark.queries.base import t

    sf = "/root/testdata/sf0.001"
    docs = t(spark, sf, "documents")
    stored = dd.minhash_signature_store(docs, sf)
    stored.count()
    splan = spark._jvm.PythonSQLUtils.explainString(
        stored._jdf.queryExecution(), "formatted"
    )
    assert "derived/minhash_" in splan
    assert "ArrowEvalPython" not in splan
    assert "documents.parquet" not in splan

    calls: list[str] = []
    real = dd.minhash_signature_store

    def spy(docs_df, sf_dir, k=8, n=3):
        calls.append(sf_dir)
        return real(docs_df, sf_dir, k, n)

    monkeypatch.setattr(dedup_queries.dd, "minhash_signature_store", spy)
    from mqtt2clickhouse_spark.queries import QUERIES

    plan_df = QUERIES["dedup_minhash_pairs"].spark_fn(spark, sf)
    assert calls == [sf], "dedup_minhash_pairs no longer reads the signature store"
    plan = spark._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" not in plan
    assert "documents.parquet" not in plan


def test_jaccard_routes_through_the_shingle_store(spark, monkeypatch):
    """dedup_jaccard must consume the materialized shingle store, never
    re-shingle per query (VERDICT r8 ask #4).  Its final plan is opaque
    here — jaccard_pairs pins its diamond with localCheckpoint, so every
    input shows as Scan ExistingRDD regardless of source — so the guard
    is two-part: (1) the store function's OWN plan is a pure parquet
    read of derived/shingles_ with no re-shingling Arrow pass, and
    (2) the query provably routes through shingle_store (a revert to
    direct shingle_rows stops calling it and goes red)."""
    from mqtt2clickhouse_spark.ops import dedup as dd
    from mqtt2clickhouse_spark.queries import dedup_queries
    from mqtt2clickhouse_spark.queries.base import t

    sf = "/root/testdata/sf0.001"
    docs = t(spark, sf, "documents")
    stored = dd.shingle_store(docs, sf)
    splan = spark._jvm.PythonSQLUtils.explainString(
        stored._jdf.queryExecution(), "formatted"
    )
    assert "derived/shingles_" in splan
    assert "ArrowEvalPython" not in splan
    assert "documents.parquet" not in splan

    calls: list[str] = []
    real = dd.shingle_store

    def spy(docs_df, sf_dir, n=3):
        calls.append(sf_dir)
        return real(docs_df, sf_dir, n)

    monkeypatch.setattr(dedup_queries.dd, "shingle_store", spy)
    from mqtt2clickhouse_spark.queries import QUERIES

    QUERIES["dedup_jaccard"].spark_fn(spark, sf)
    assert calls == [sf], "dedup_jaccard no longer reads the shingle store"


def test_lpa_label_store_equals_direct_fixpoint(spark, sf_copy):
    """The materialized LPA labels (graph_queries._lpa_labels_stored)
    must equal a direct _lpa_labels run — the fixpoint is deterministic
    (synchronous rounds, integer counts, min-struct ties), so any
    divergence means the key or the write is wrong."""
    from mqtt2clickhouse_spark.queries.graph_queries import (
        _lpa_labels,
        _lpa_labels_stored,
        _sym_trade_edges,
    )

    direct = {
        tuple(r) for r in _lpa_labels(_sym_trade_edges(spark, sf_copy)).collect()
    }
    stored = {tuple(r) for r in _lpa_labels_stored(spark, sf_copy).collect()}
    assert stored == direct and stored


def test_lpa_consumers_scan_the_label_store_not_the_rounds(spark, monkeypatch):
    """label_propagation and graph_modularity must read the label store
    — the iterative LPA join rounds happen at store-build time, once
    per edge-store generation, not per query.  label_propagation's
    plan shows the store scan directly; graph_modularity's readout is
    pinned behind a localCheckpoint (every input shows as ExistingRDD),
    so it is guarded behaviorally: the query must route through
    _lpa_labels_stored (a revert to direct _lpa_labels stops calling it
    and goes red)."""
    from mqtt2clickhouse_spark.queries import graph_queries as gq

    sf = "/root/testdata/sf0.001"
    gq._lpa_labels_stored(spark, sf).count()
    plan = _plan_of(spark, "label_propagation")
    assert "derived/lpa_" in plan
    assert "lineitem" not in plan

    calls: list[str] = []
    real = gq._lpa_labels_stored

    def spy(spark_, sf_dir):
        calls.append(sf_dir)
        return real(spark_, sf_dir)

    monkeypatch.setattr(gq, "_lpa_labels_stored", spy)
    from mqtt2clickhouse_spark.queries import QUERIES

    QUERIES["graph_modularity"].spark_fn(spark, sf)
    assert calls == [sf], "graph_modularity no longer reads the label store"


def test_copurchase_store_equals_direct_build(spark, sf_copy):
    """The materialized co-purchase edge table (_copurchase_edges) must
    equal a direct basket_pairs build — set semantics over integer
    keys, so any divergence means the key or the write is wrong."""
    from mqtt2clickhouse_spark.ops.graph import basket_pairs
    from mqtt2clickhouse_spark.queries.graph_queries import (
        _TRI_CAP,
        _TRI_MIN_W,
        _copurchase_edges,
    )

    li = spark.read.parquet(os.path.join(sf_copy, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    direct = {
        tuple(r)
        for r in basket_pairs(li, "l_orderkey", "l_partkey", cap=_TRI_CAP)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_W)
        .select("u", "v")
        .collect()
    }
    stored = {tuple(r) for r in _copurchase_edges(spark, sf_copy).collect()}
    assert stored == direct and stored


def test_copurchase_consumers_scan_the_cop_store(spark, monkeypatch):
    """triangle_count / graph_kcore / link_prediction_ra must read the
    materialized co-purchase edge store, never rebuild the basket
    pairs per query.  link_prediction_ra's plan shows the store scan
    directly; triangle_count and graph_kcore pin intermediates with
    localCheckpoint (every input shows as ExistingRDD), so they are
    guarded in two parts like dedup_jaccard: (1) the store function's
    OWN plan is a pure parquet read of derived/cop_ — no lineitem
    scan, no basket aggregation — and (2) both queries provably route
    through _copurchase_edges (a revert to an inline basket build stops
    calling it and goes red)."""
    from mqtt2clickhouse_spark.queries import graph_queries as gq

    sf = "/root/testdata/sf0.001"
    edges = gq._copurchase_edges(spark, sf)
    edges.count()  # ensure built
    eplan = spark._jvm.PythonSQLUtils.explainString(
        edges._jdf.queryExecution(), "formatted"
    )
    assert "derived/cop_" in eplan
    assert "lineitem" not in eplan

    plan = _plan_of(spark, "link_prediction_ra")
    assert "derived/cop_" in plan
    assert "lineitem" not in plan

    calls: list[str] = []
    real = gq._copurchase_edges

    def spy(spark_, sf_dir):
        calls.append(sf_dir)
        return real(spark_, sf_dir)

    monkeypatch.setattr(gq, "_copurchase_edges", spy)
    from mqtt2clickhouse_spark.queries import QUERIES

    QUERIES["triangle_count"].spark_fn(spark, sf)
    QUERIES["graph_kcore"].spark_fn(spark, sf)
    assert calls == [sf, sf], "a consumer no longer reads the co-purchase store"


def test_ann_queries_scan_the_pivot_store_not_retraining(spark):
    """Every trained-quantizer consumer (similarity_ann_kmeans,
    kmeans_silhouette, semantic_dedup) must read the materialized pivot
    store (VERDICT r8 ask #4).  A revert to direct kmeans_pivots
    retrains eagerly and plans a LocalTableScan/ExistingRDD of driver
    pivots instead of the parquet store read — demonstrated below, so
    the marker's absence is the red flag."""
    from mqtt2clickhouse_spark.ops.similarity import (
        kmeans_pivots,
        kmeans_pivots_cached,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kmeans_pivots_cached(emb, "/root/testdata/sf0.001", k=16, iters=2).count()
    for name in ("similarity_ann_kmeans", "kmeans_silhouette", "semantic_dedup"):
        plan = _plan_of(spark, name)
        assert "derived/pivots_" in plan, name
    # the reverted form is distinguishable: direct training yields
    # driver-local pivots, no store read in the plan
    direct = kmeans_pivots(emb, k=16, iters=2)
    dplan = spark._jvm.PythonSQLUtils.explainString(
        direct._jdf.queryExecution(), "formatted"
    )
    assert "derived/pivots_" not in dplan


def test_shingle_and_signature_stores_equal_direct(spark, tmp_path):
    """The documents-derived stores (ops.dedup.shingle_store /
    minhash_signature_store) must return exactly what the direct
    shingle_rows / minhash_signature calls compute."""
    from mqtt2clickhouse_spark.ops.dedup import (
        minhash_signature,
        minhash_signature_store,
        shingle_rows,
        shingle_store,
    )

    shutil.copyfile(
        os.path.join(SF_DIR, "documents.parquet"),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    direct_sh = {tuple(r) for r in shingle_rows(docs, "doc_id", "text", 3).collect()}
    stored_sh = {tuple(r) for r in shingle_store(docs, sf).collect()}
    assert stored_sh == direct_sh and stored_sh
    direct_sig = {
        tuple(r)
        for r in minhash_signature(docs, "doc_id", "text", k=8, shingle_n=3).collect()
    }
    stored_sig = {tuple(r) for r in minhash_signature_store(docs, sf).collect()}
    assert stored_sig == direct_sig and stored_sig


_LIFETIME_CHILD = r"""
import json, sys
from pyspark.sql import functions as F
from mqtt2clickhouse_spark.ops import dedup
from mqtt2clickhouse_spark.queries import QUERIES
from mqtt2clickhouse_spark.session import get_spark

if sys.argv[1] == "drop_doc0":
    real = dedup.shingle_rows
    dedup.shingle_rows = lambda df, id_col, text_col, n=3: real(
        df.filter(F.col(id_col) != 0), id_col, text_col, n)
spark = get_spark("store-lifetime", cpus=2)
rows = QUERIES["ngram_novelty"].spark_fn(spark, sys.argv[2]).collect()
print(json.dumps(sorted(map(list, rows))))
spark.stop()
"""


def test_derived_tables_do_not_outlive_the_process(tmp_path):
    """Two processes over one temp dir: the second, whose shingling
    drops document 0, must build its own shingle table, not read the
    first one's.  A store that outlived its process hid exactly this
    kind of change from the parity sweep.  Neither process may leave a
    derived table behind."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_LOCAL_DIRS=str(tmp_path))

    def run(mode: str) -> set[int]:
        proc = subprocess.run(
            [sys.executable, "-c", _LIFETIME_CHILD, mode, sf_dir],
            cwd=repo, env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        left = [
            os.path.join(d, n)
            for d, dirs, _files in os.walk(tmp_path)
            for n in dirs
            if n.startswith("sparkgraft_") or n == "derived"
        ]
        assert not left, left
        return {r[0] for r in json.loads(proc.stdout.splitlines()[-1])}

    original = run("original")
    changed = run("drop_doc0")
    assert 0 in original
    assert 0 not in changed, "the second process read the first one's shingles"
    assert changed == original - {0}
