#!/usr/bin/env python
"""Skew probe (VERDICT r9 stretch #8): the scale probe's R=30 replica
is block-diagonal and therefore UNIFORM — every block repeats sf0.1's
degree distribution.  This probe builds a deliberately skewed variant
of the same fixture — one global hot supplier and one global hot part
each receiving ~20% of lineitem rows across ALL blocks — and measures
the graph families on uniform-vs-skewed at the same scale, confirming
the documented hot-key guards hold:

- trade-edge graph (pagerank / modularity / LPA consumers): the hot
  supplier becomes one node holding ~20% of edge endpoints; edge-store
  groupBy keys on (s, c) so the hot s still spreads over customers,
  and the iterative rounds' per-node aggregations meet the hot node as
  ONE reducer group (bounded by its distinct-neighbor count, not by
  raw lineitem multiplicity — the groupBy collapses multiplicity into
  the weight column before any iteration).
- co-purchase graph (triangles / k-core / link prediction): the hot
  part lands in ~every basket; the basket CAP (sort_array + slice)
  bounds per-basket pair expansion regardless of basket size, and the
  support floor keeps the candidate edge set support-filtered.

Usage:
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py            # graph leg
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py --docs     # hot phrase
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py --events   # hot user
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py --emb      # hot cluster
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py --joins    # hot join key
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py --text     # repeated doc
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py --sink     # hot table
    SPARK_GRAFT_PROBE_R=30 python scripts/skew_probe.py --hub      # degree hub

Prints a markdown table (paste into NOTES.md): per family, uniform and
skewed wall-times (min-of-2, post store-build) and their ratio, plus
the store-build times per fixture.  The probe is the STANDING round
ritual (r10 verdict): it has caught one real scale bug per leg on
average — the RA hub OOM, the within_cell_dups/LSH pre-collect
materialization, the AQE-can't-split-this-join finding behind the
q12/q18 pre-aggregation rewrites, and the seq_pattern_match
buffer-cap false claim.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_PROBE_R", "30")

from scripts.scale_probe import (  # noqa: E402
    R,
    build_probe_fixture,
    probe_dir,
    release,
    run_dir,
    time_noop,
)


def skew_root() -> str:
    return os.path.join(run_dir(), f"skew_r{R}")


#: the global hot keys — constant across every replica block, so the
#: skew is a single node / single part, not one-per-block
HOT_SUPP = 77
HOT_PART = 77

#: ~20% of lineitem rows get the hot keys (deterministic row selector)
HOT_MOD = 5

QUERY_NAMES = [
    "pagerank_directed",
    "graph_modularity",
    "triangle_count",
    "graph_kcore",
    "link_prediction_ra",
]

#: the dedup leg (--docs): one GLOBAL hot phrase appended to half the
#: corpus — its shingles' document frequency explodes cross-block,
#: exercising the max_df (df-cut before the shingle self-join) and
#: max_bucket (degenerate LSH band buckets dropped) guards
DOC_QUERY_NAMES = [
    "dedup_jaccard",
    "dedup_minhash_pairs",
    "setjoin_prefix_filter",
]

HOT_PHRASE = " hotA hotB hotC hotD hotE"

#: the events leg (--events): one GLOBAL hot user holding ~20% of all
#: events across every replica block — the per-user window / session /
#: state families (r11: they had never met a hot key) all shuffle on
#: user_id, so the hot user's rows land in ONE reducer/window/state
#: partition
HOT_USER = 777

EVENT_QUERY_NAMES = [
    "sessionize",
    "window_rank",
    "stateful_stats_twin",
    "funnel",
    # r11 collect-site audit: its per-user sequence cap is now a
    # pre-collect rank filter — keep it under the hot-user leg
    "seq_pattern_match",
]

#: the similarity leg (--emb): ~30% of vectors overwritten with one
#: dense deterministic cluster — a single k-means / IVF cell (and one
#: SRP bucket) absorbs them, exercising the per-cell caps' hot-cell
#: behavior
EMB_QUERY_NAMES = [
    "similarity_topk",
    "similarity_ann_ivf",
    "semantic_dedup",
    "dedup_embedding_srp",
]

#: vec_id % 10 < HOT_VEC_MOD → hot cluster member (~30%)
HOT_VEC_MOD = 3

#: the joins leg (--joins): the classic skewed SHUFFLE-JOIN partition —
#: ~20% of lineitem rows redirected to ONE global orderkey, so the
#: lineitem⋈orders sort-merge join lands a fifth of the fact table in
#: a single join partition (the case AQE skew-join splitting exists
#: for); plus ~20% of orders redirected to one custkey, feeding the
#: salted-join guard its design-point input.  Separate fixture dir:
#: the graph leg's skewed lineitem redirects supp/part keys instead.
HOT_ORDER = 1  # exists in replica block 0 (keys there are un-strided)
HOT_CUST = 1

JOIN_QUERY_NAMES = [
    "q3_shipping_priority",
    "q4_priority_check",
    "q12_late_shipments",
    "q18_large_orders",
    "skew_salted_join",
]

JOIN_DIR_SUFFIX = "_joins"

#: the text-corpus leg (--text, VERDICT r11 ask #3a): ONE document
#: repeated verbatim to ~30% of the corpus — the real-world boilerplate
#: / SEO-spam shape.  Unlike --docs (a hot PHRASE appended to otherwise
#: distinct docs), this makes entire token vectors, winnow fingerprint
#: sets, and bigram streams identical across 30% of rows: df-weighting
#: runs with terms at df≈0.3N, fingerprint buckets hold ~0.3N identical
#: members, and PMI's bigram counts concentrate on the boilerplate's
#: bigrams.
TEXT_QUERY_NAMES = [
    "tfidf_cosine",
    "bm25_topk",
    "bigram_pmi",
    "winnow_fingerprint",
]

#: doc_id % 10 < HOT_DOC_MOD → replaced with the boilerplate (~30%)
HOT_DOC_MOD = 3

#: the repeated document: realistic boilerplate length (~60 tokens),
#: vocabulary disjoint from the replica suffixes so it is GLOBALLY
#: identical across blocks
BOILERPLATE = (
    "subscribe to our newsletter for the best deals and exclusive "
    "offers click here to unlock premium content and save big today "
    "limited time offer terms and conditions apply see store for "
    "details free shipping on all orders over fifty dollars sign up "
    "now and get ten percent off your first purchase follow us on "
    "social media for daily updates and flash sales dont miss out"
)

TEXT_DIR_SUFFIX = "_text"

#: the sink leg (--sink, VERDICT r11 ask #3b): one sensor table
#: receiving ~90% of routed rows through sink_routing_twin's demux
#: path — the hot-sensor shape the reference deployment would actually
#: see (one chatty device class dominating the MQTT feed).  The demux
#: write repartitions the batch ON table_name, so the hot table's rows
#: land in ONE writer task unless the layout spreads them.
SINK_QUERY_NAMES = ["sink_routing_twin"]

#: event_id % 40 != 0 → redirected to the hot sensor.  The twin's own
#: deterministic slice keeps event_id % 4 == 0, within which % 40 == 0
#: is exactly 1-in-10 — so the ROUTED stream is 90% hot (the first cut,
#: % 10 != 0, composed to only 80% in-slice).
HOT_SINK_MOD = 40
HOT_SINK_USER = 777  # user_id -> table suffix user_id%10 == 7

SINK_DIR_SUFFIX = "_sink"

#: the hub leg (--hub, VERDICT r12 ask #4): a DEGREE hub in the
#: deduped edge set — the celebrity/aggregator shape.  Every prior
#: graph leg redirected row MULTIPLICITY (~20% of lineitem rows onto
#: one key), which the edge-store groupBy collapses into the weight
#: column before any iteration, so the post-dedup graph never had a
#: true hub.  Here ~63% of orders get a UNIQUE synthetic custkey and
#: their lineitems the hot suppkey, so each redirected order mints a
#: DISTINCT (hot supplier, fresh customer) edge: the hot supplier ends
#: up owning ~30% of all distinct trade edges (p/(p + 4(1-p)) ≈ 0.30
#: at p=0.63 with ~4 supplier draws per order).  One lineitem per hub
#: order additionally gets the hot partkey, planting the same hub in
#: the co-purchase graph (hot part in ~63% of baskets -> co-occurs
#: with nearly every part above the support floor).
HUB_QUERY_NAMES = [
    "pagerank_directed",
    "hits_ranking",
    "graph_kcore",
    "triangle_count",
    "link_prediction_ra",
]

HUB_ORDER_PCT = 63
#: synthetic custkeys start above every strided key (max replica key
#: ~2.9e9 at R=30 with the 1e8 stride)
HUB_CUST_BASE = 10_000_000_000

HUB_DIR_SUFFIX = "_hub"


def build_skew_fixture(spark) -> None:
    """The uniform R-replica with l_suppkey/l_partkey redirected to the
    global hot keys on ~1/HOT_MOD of rows.  Orders are byte-identical
    (copied), so the ONLY difference between the fixtures is the key
    distribution — same row counts, same join cardinalities."""
    from pyspark.sql import functions as F

    hot = (F.col("l_orderkey") + F.col("l_linenumber")) % HOT_MOD == 0
    li = spark.read.parquet(os.path.join(probe_dir(), "lineitem.parquet"))
    (
        li.withColumn(
            "l_suppkey",
            F.when(hot, F.lit(HOT_SUPP)).otherwise(F.col("l_suppkey")),
        )
        .withColumn(
            "l_partkey",
            F.when(hot, F.lit(HOT_PART)).otherwise(F.col("l_partkey")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(skew_root(), "lineitem.parquet"))
    )
    shutil.copytree(
        os.path.join(probe_dir(), "orders.parquet"),
        os.path.join(skew_root(), "orders.parquet"),
    )


def build_skew_hub(spark) -> str:
    """The uniform R-replica with a degree hub planted in both graphs.
    Orders: ``HUB_ORDER_PCT``% (by orderkey mod 100) get a unique
    synthetic custkey, so the hub's edges are DISTINCT pairs, not
    multiplicity.  Lineitem: the same orders' rows get the hot
    suppkey; their linenumber-1 row also gets the hot partkey (one per
    basket — the rest of the basket keeps its parts, so the hot part
    CO-OCCURS instead of collapsing the basket to a singleton).  Same
    row counts as the uniform fixture; only the key distribution — and
    therefore the deduped edge set — differs."""
    from pyspark.sql import functions as F

    hub_dir = skew_root() + HUB_DIR_SUFFIX

    orders = spark.read.parquet(os.path.join(probe_dir(), "orders.parquet"))
    hub_o = F.col("o_orderkey") % 100 < HUB_ORDER_PCT
    (
        orders.withColumn(
            "o_custkey",
            F.when(
                hub_o, F.lit(HUB_CUST_BASE) + F.col("o_orderkey")
            ).otherwise(F.col("o_custkey")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(hub_dir, "orders.parquet"))
    )

    li = spark.read.parquet(os.path.join(probe_dir(), "lineitem.parquet"))
    hub_l = F.col("l_orderkey") % 100 < HUB_ORDER_PCT
    (
        li.withColumn(
            "l_suppkey",
            F.when(hub_l, F.lit(HOT_SUPP)).otherwise(F.col("l_suppkey")),
        )
        .withColumn(
            "l_partkey",
            F.when(
                hub_l & (F.col("l_linenumber") == 1), F.lit(HOT_PART)
            ).otherwise(F.col("l_partkey")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(hub_dir, "lineitem.parquet"))
    )
    return hub_dir


def run_hub_leg(spark) -> None:
    from pyspark.sql import functions as F

    from mqtt2clickhouse_spark.queries.graph_queries import (
        _copurchase_edges,
        _weighted_pairs,
    )

    print("building hub fixture ...", file=sys.stderr)
    hub_dir = build_skew_hub(spark)

    # derived tables live for one Spark session, so both fixtures'
    # store builds below are cold
    builds: dict[str, tuple[float, float]] = {}
    for label, build in (
        ("edge_store", lambda d: _weighted_pairs(spark, d).count()),
        ("cop_store", lambda d: _copurchase_edges(spark, d).count()),
    ):
        ts = {}
        for d in (probe_dir(), hub_dir):
            start = time.perf_counter()
            build(d)
            ts[d] = time.perf_counter() - start
            release(spark)
        builds[label] = (ts[probe_dir()], ts[hub_dir])
        print(
            f"{label}: uniform {ts[probe_dir()]:.2f}s  hub {ts[hub_dir]:.2f}s",
            file=sys.stderr,
        )

    # the achieved hub shares — AFTER the timed builds (stores exist)
    edges = _weighted_pairs(spark, hub_dir)
    hot_node = f"s{HOT_SUPP}"
    tot, hot_e = edges.agg(
        F.count(F.lit(1)), F.sum((F.col("s") == hot_node).cast("long"))
    ).first()
    cop = _copurchase_edges(spark, hub_dir)
    ctot, chot = cop.agg(
        F.count(F.lit(1)),
        F.sum(
            ((F.col("u") == HOT_PART) | (F.col("v") == HOT_PART)).cast(
                "long"
            )
        ),
    ).first()
    print(
        f"hub achieved: trade {hot_e}/{tot} edges "
        f"({100.0 * hot_e / tot:.1f}%) on {hot_node}; co-purchase "
        f"{chot}/{ctot} ({100.0 * chot / ctot:.1f}%) on part {HOT_PART}",
        file=sys.stderr,
    )
    release(spark)
    _run_leg(
        spark,
        HUB_QUERY_NAMES,
        f"Hub skew probe: R={R} uniform vs one DEGREE hub "
        f"(trade {100.0 * hot_e / tot:.0f}% / co-purchase "
        f"{100.0 * chot / ctot:.0f}% of distinct edges on one node)",
        skew_dir=hub_dir,
    )
    print("\n(store builds, one-time)\n")
    print("| store | uniform (s) | hub (s) | ratio |")
    print("|---|---|---|---|")
    for label, (a, b) in builds.items():
        print(f"| {label} | {a:.2f} | {b:.2f} | {b / a:.2f}x |")


def build_skew_docs(spark) -> None:
    """Skewed documents: the uniform replica's corpus with ``HOT_PHRASE``
    appended to every even doc_id (~50% of docs).  The phrase's words
    carry no replica suffix, so its shingles are GLOBALLY hot — document
    frequency ~N/2 across all blocks, the worst case for any
    shingle-df-based candidate generation."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(probe_dir(), "documents.parquet"))
    (
        docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.col("text"), F.lit(HOT_PHRASE)),
            ).otherwise(F.col("text")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(skew_root(), "documents.parquet"))
    )


def build_skew_events(spark) -> None:
    """Skewed events: the uniform replica's events with user_id
    redirected to the global ``HOT_USER`` on ~20% of rows (deterministic
    event_id selector, constant across blocks because the replica
    stride is a multiple of HOT_MOD).  Same row count, same timestamps,
    same event_type mix — the ONLY difference is the user-key
    distribution."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(probe_dir(), "events.parquet"))
    (
        ev.withColumn(
            "user_id",
            F.when(
                F.col("event_id") % HOT_MOD == 0, F.lit(HOT_USER)
            ).otherwise(F.col("user_id")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(skew_root(), "events.parquet"))
    )


def build_skew_text(spark) -> str:
    """Skewed text corpus: the uniform replica's documents with ~30% of
    rows' text REPLACED by one global boilerplate document (same row
    count, same doc_ids/langs — only the text distribution changes).
    Separate dir: --docs already owns skew_root()'s documents.parquet."""
    from pyspark.sql import functions as F

    d = skew_root() + TEXT_DIR_SUFFIX
    docs = spark.read.parquet(os.path.join(probe_dir(), "documents.parquet"))
    (
        docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 < HOT_DOC_MOD, F.lit(BOILERPLATE)
            ).otherwise(F.col("text")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "documents.parquet"))
    )
    return d


def build_skew_sink(spark) -> str:
    """Skewed routing: events with ~90% of rows redirected to ONE
    sensor table (event_type 'view' + user_id ending in 7 → the twin's
    ``t_view_7``).  Same row count, same event_ids/values/timestamps —
    only the routing-key distribution changes."""
    from pyspark.sql import functions as F

    d = skew_root() + SINK_DIR_SUFFIX
    ev = spark.read.parquet(os.path.join(probe_dir(), "events.parquet"))
    hot = F.col("event_id") % HOT_SINK_MOD != 0
    (
        ev.withColumn(
            "event_type", F.when(hot, F.lit("view")).otherwise(F.col("event_type"))
        )
        .withColumn(
            "user_id",
            F.when(hot, F.lit(HOT_SINK_USER)).otherwise(F.col("user_id")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "events.parquet"))
    )
    return d


def run_text_leg(spark) -> None:
    from pyspark.sql import functions as F

    print("building skewed text corpus ...", file=sys.stderr)
    d = build_skew_text(spark)
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    tot, hot = docs.agg(
        F.count(F.lit(1)),
        F.sum((F.col("text") == BOILERPLATE).cast("long")),
    ).first()
    print(
        f"skew achieved: {hot}/{tot} docs ({100.0 * hot / tot:.1f}%) are "
        "the one boilerplate document",
        file=sys.stderr,
    )
    release(spark)
    _run_leg(
        spark,
        TEXT_QUERY_NAMES,
        f"Text-corpus skew probe: R={R} uniform vs one document repeated "
        f"to ~{10 * HOT_DOC_MOD}% of the corpus (boilerplate/SEO-spam "
        "shape)",
        skew_dir=d,
    )


def run_sink_leg(spark) -> None:
    from pyspark.sql import functions as F

    print("building skewed routing events ...", file=sys.stderr)
    d = build_skew_sink(spark)
    ev = spark.read.parquet(os.path.join(d, "events.parquet")).filter(
        F.col("event_id") % 4 == 0  # the twin's deterministic slice
    )
    tot, hot = ev.agg(
        F.count(F.lit(1)),
        F.sum(
            (
                (F.col("event_type") == "view")
                & (F.col("user_id") % 10 == 7)
            ).cast("long")
        ),
    ).first()
    print(
        f"skew achieved: {hot}/{tot} routed rows ({100.0 * hot / tot:.1f}%)"
        " target table t_view_7",
        file=sys.stderr,
    )
    release(spark)
    _run_leg(
        spark,
        SINK_QUERY_NAMES,
        f"Sink skew probe: R={R} uniform vs one sensor table receiving "
        "~90% of routed rows (hot-sensor demux shape)",
        skew_dir=d,
    )


def build_probe_embeddings(spark) -> None:
    """R× replication of embeddings into the UNIFORM probe dir (the
    scale probe never needed them, so build_probe_fixture doesn't
    replicate this table).  vec_id is strided per replica; vectors are
    copied as-is — R× density of the same distribution, the uniform
    baseline."""
    from pyspark.sql import functions as F

    from scripts.scale_probe import SMALL, STRIDE

    emb = spark.read.parquet(os.path.join(SMALL, "embeddings.parquet"))
    reps = spark.range(R).withColumnRenamed("id", "rep")
    (
        emb.crossJoin(reps)
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * STRIDE)
        .drop("rep")
        .write.mode("overwrite")
        .parquet(os.path.join(probe_dir(), "embeddings.parquet"))
    )


def build_skew_embeddings(spark) -> None:
    """Skewed embeddings: ~30% of the uniform replica's vectors
    (vec_id % 10 < HOT_VEC_MOD) overwritten with one dense cluster —
    the all-ones direction plus a small deterministic per-(vec_id, dim)
    jitter, so cluster members are near- but not exact-duplicates.
    Because pivots/planes are picked from the lowest vec_ids (which
    include hot members), one k-means/IVF cell and one SRP bucket
    absorb the whole cluster."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(probe_dir(), "embeddings.parquet"))
    jitter = lambda i: (  # noqa: E731 — deterministic per (vec_id, dim)
        F.pmod(F.col("vec_id") * 31 + i, F.lit(97)).cast("double") / 970.0
    )
    hot_vec = F.transform(
        F.col("embedding"), lambda x, i: (F.lit(1.0) + jitter(i)).cast("float")
    )
    (
        emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") % 10 < HOT_VEC_MOD, hot_vec).otherwise(
                F.col("embedding")
            ),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(skew_root(), "embeddings.parquet"))
    )


def build_probe_customer(spark) -> None:
    """R× replication of customer into the UNIFORM probe dir (the scale
    probe never needed it; the joins leg's queries read it)."""
    from pyspark.sql import functions as F

    from scripts.scale_probe import SMALL, STRIDE

    cust = spark.read.parquet(os.path.join(SMALL, "customer.parquet"))
    reps = spark.range(R).withColumnRenamed("id", "rep")
    (
        cust.crossJoin(reps)
        .withColumn("c_custkey", F.col("c_custkey") + F.col("rep") * STRIDE)
        .drop("rep")
        .write.mode("overwrite")
        .parquet(os.path.join(probe_dir(), "customer.parquet"))
    )


def build_skew_joins(spark) -> str:
    """Join-skew fixture (own dir — the graph leg's skewed lineitem
    redirects supp/part keys): lineitem with l_orderkey redirected to
    the global ``HOT_ORDER`` on ~20% of rows (the fact side of the
    lineitem⋈orders shuffle join collapses onto one join key), orders
    with o_custkey redirected to ``HOT_CUST`` on ~20% of rows (the
    salted join's design-point input), customer copied unchanged.
    Same row counts as the uniform replica; ONLY key distributions
    move."""
    from pyspark.sql import functions as F

    join_dir = skew_root() + JOIN_DIR_SUFFIX
    li = spark.read.parquet(os.path.join(probe_dir(), "lineitem.parquet"))
    hot_li = (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % HOT_MOD == 0
    (
        li.withColumn(
            "l_orderkey",
            F.when(hot_li, F.lit(HOT_ORDER)).otherwise(F.col("l_orderkey")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(join_dir, "lineitem.parquet"))
    )
    orders = spark.read.parquet(os.path.join(probe_dir(), "orders.parquet"))
    (
        orders.withColumn(
            "o_custkey",
            F.when(
                F.col("o_orderkey") % HOT_MOD == 0, F.lit(HOT_CUST)
            ).otherwise(F.col("o_custkey")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(join_dir, "orders.parquet"))
    )
    shutil.copytree(
        os.path.join(probe_dir(), "customer.parquet"),
        os.path.join(join_dir, "customer.parquet"),
    )
    return join_dir


def run_joins_leg(spark) -> None:
    from pyspark.sql import functions as F

    from mqtt2clickhouse_spark.queries import QUERIES

    print("replicating customer ...", file=sys.stderr)
    build_probe_customer(spark)
    print("building join-skew fixture ...", file=sys.stderr)
    join_dir = build_skew_joins(spark)
    li = spark.read.parquet(os.path.join(join_dir, "lineitem.parquet"))
    tot, hot = li.agg(
        F.count(F.lit(1)),
        F.sum((F.col("l_orderkey") == HOT_ORDER).cast("long")),
    ).first()
    print(
        f"skew achieved: {hot}/{tot} lineitem rows ({100.0 * hot / tot:.1f}%) "
        f"on orderkey {HOT_ORDER}",
        file=sys.stderr,
    )
    release(spark)
    _run_leg(
        spark,
        JOIN_QUERY_NAMES,
        f"Join skew probe: R={R} uniform vs one hot orderkey "
        f"(~{100 // HOT_MOD}% of lineitem) + one hot custkey "
        f"(~{100 // HOT_MOD}% of orders)",
        skew_dir=join_dir,
    )
    # Is AQE's skew-join splitting load-bearing here, or does the plan
    # absorb the hot key some other way?  Same skewed fixture, the
    # pure orderkey-join query, mitigation on vs off.
    fn = QUERIES["q12_late_shipments"].spark_fn
    key = "spark.sql.adaptive.skewJoin.enabled"
    timings = {}
    for flag in ("true", "false"):
        spark.conf.set(key, flag)
        timings[flag] = time_noop(spark, fn, join_dir)
        release(spark)
    spark.conf.set(key, "true")
    print(
        "\n(q12_late_shipments on the skewed fixture: AQE skew-join "
        f"ON {timings['true']:.2f}s vs OFF {timings['false']:.2f}s)"
    )


def _run_leg(
    spark, names: list[str], title: str, skew_dir: str | None = None
) -> None:
    """Shared uniform-vs-skewed measurement loop + markdown table."""
    from mqtt2clickhouse_spark.queries import QUERIES

    skew_dir = skew_dir or skew_root()
    rows = []
    for name in names:
        fn = QUERIES[name].spark_fn
        t_uni = time_noop(spark, fn, probe_dir())
        release(spark)
        t_skew = time_noop(spark, fn, skew_dir)
        release(spark)
        rows.append((name, t_uni, t_skew, t_skew / t_uni))
        print(
            f"{name}: uniform {t_uni:.2f}s  skewed {t_skew:.2f}s  "
            f"ratio {t_skew / t_uni:.2f}",
            file=sys.stderr,
        )
    print(f"\n## {title}\n")
    print("| query | uniform (s) | skewed (s) | skew ratio |")
    print("|---|---|---|---|")
    for name, a, b, r in rows:
        print(f"| {name} | {a:.2f} | {b:.2f} | {r:.2f}x |")


def run_events_leg(spark) -> None:
    from pyspark.sql import functions as F

    print("building skewed events ...", file=sys.stderr)
    build_skew_events(spark)
    ev = spark.read.parquet(os.path.join(skew_root(), "events.parquet"))
    tot, hot = ev.agg(
        F.count(F.lit(1)), F.sum((F.col("user_id") == HOT_USER).cast("long"))
    ).first()
    print(
        f"skew achieved: {hot}/{tot} events ({100.0 * hot / tot:.1f}%) "
        f"on user {HOT_USER}",
        file=sys.stderr,
    )
    release(spark)
    _run_leg(
        spark,
        EVENT_QUERY_NAMES,
        f"Events skew probe: R={R} uniform vs one hot user "
        f"(~{100 // HOT_MOD}% of events -> user_id {HOT_USER})",
    )


def run_emb_leg(spark) -> None:
    from pyspark.sql import functions as F

    print("building uniform embeddings ...", file=sys.stderr)
    build_probe_embeddings(spark)
    print("building skewed embeddings ...", file=sys.stderr)
    build_skew_embeddings(spark)
    emb = spark.read.parquet(os.path.join(skew_root(), "embeddings.parquet"))
    tot, hot = emb.agg(
        F.count(F.lit(1)),
        F.sum((F.col("vec_id") % 10 < HOT_VEC_MOD).cast("long")),
    ).first()
    print(
        f"skew achieved: {hot}/{tot} vectors ({100.0 * hot / tot:.1f}%) "
        "in the dense cluster",
        file=sys.stderr,
    )
    release(spark)
    _run_leg(
        spark,
        EMB_QUERY_NAMES,
        f"Similarity skew probe: R={R} uniform vs one dense cluster "
        f"(~{10 * HOT_VEC_MOD}% of vectors)",
    )


def run_docs_leg(spark) -> None:
    from pyspark.sql import functions as F

    from mqtt2clickhouse_spark.ops.dedup import (
        minhash_signature_store,
        shingle_store,
    )
    from mqtt2clickhouse_spark.queries import QUERIES
    from mqtt2clickhouse_spark.queries.base import t

    print("building skewed documents ...", file=sys.stderr)
    build_skew_docs(spark)

    # store builds per fixture (one-time), then the achieved skew:
    # the hot shingles' document frequency vs the max_df=50 cut
    builds: dict[str, tuple[float, float]] = {}
    for label, build in (
        ("shingle_store", lambda d: shingle_store(
            t(spark, d, "documents"), d).count()),
        ("minhash_store", lambda d: minhash_signature_store(
            t(spark, d, "documents"), d).count()),
    ):
        ts = {}
        for d in (probe_dir(), skew_root()):
            start = time.perf_counter()
            build(d)
            ts[d] = time.perf_counter() - start
            release(spark)
        builds[label] = (ts[probe_dir()], ts[skew_root()])
        print(
            f"{label}: uniform {ts[probe_dir()]:.2f}s  skewed {ts[skew_root()]:.2f}s",
            file=sys.stderr,
        )
    sh = shingle_store(t(spark, skew_root(), "documents"), skew_root())
    hot_df = (
        sh.groupBy("shingle").count().orderBy(F.desc("count")).limit(3)
    ).collect()
    print(
        "top skewed shingle document frequencies: "
        + ", ".join(str(r["count"]) for r in hot_df)
        + " (max_df cut = 50)",
        file=sys.stderr,
    )
    release(spark)

    rows = []
    for name in DOC_QUERY_NAMES:
        fn = QUERIES[name].spark_fn
        t_uni = time_noop(spark, fn, probe_dir())
        release(spark)
        t_skew = time_noop(spark, fn, skew_root())
        release(spark)
        rows.append((name, t_uni, t_skew, t_skew / t_uni))
        print(
            f"{name}: uniform {t_uni:.2f}s  skewed {t_skew:.2f}s  "
            f"ratio {t_skew / t_uni:.2f}",
            file=sys.stderr,
        )

    print(
        f"\n## Dedup skew probe: R={R} uniform vs global hot phrase "
        f"on ~50% of docs\n"
    )
    print("| query | uniform (s) | skewed (s) | skew ratio |")
    print("|---|---|---|---|")
    for name, a, b, r in rows:
        print(f"| {name} | {a:.2f} | {b:.2f} | {r:.2f}x |")
    print("\n(store builds, one-time)\n")
    print("| store | uniform (s) | skewed (s) | ratio |")
    print("|---|---|---|---|")
    for label, (a, b) in builds.items():
        print(f"| {label} | {a:.2f} | {b:.2f} | {b / a:.2f}x |")


def main() -> None:
    from pyspark.sql import functions as F

    from mqtt2clickhouse_spark.queries import QUERIES
    from mqtt2clickhouse_spark.queries.graph_queries import (
        _copurchase_edges,
        _weighted_pairs,
    )
    from mqtt2clickhouse_spark.session import get_spark

    spark = get_spark("skew_probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    print(f"building uniform fixture R={R} ...", file=sys.stderr)
    build_probe_fixture(spark)
    print("building skewed fixture ...", file=sys.stderr)
    build_skew_fixture(spark)

    if "--hub" in sys.argv:
        run_hub_leg(spark)
        spark.stop()
        return
    if "--docs" in sys.argv:
        run_docs_leg(spark)
        spark.stop()
        return
    if "--events" in sys.argv:
        run_events_leg(spark)
        spark.stop()
        return
    if "--emb" in sys.argv:
        run_emb_leg(spark)
        spark.stop()
        return
    if "--joins" in sys.argv:
        run_joins_leg(spark)
        spark.stop()
        return
    if "--text" in sys.argv:
        run_text_leg(spark)
        spark.stop()
        return
    if "--sink" in sys.argv:
        run_sink_leg(spark)
        spark.stop()
        return

    builds: dict[str, tuple[float, float]] = {}
    for label, build in (
        ("edge_store", lambda d: _weighted_pairs(spark, d).count()),
        ("cop_store", lambda d: _copurchase_edges(spark, d).count()),
    ):
        ts = {}
        for d in (probe_dir(), skew_root()):
            start = time.perf_counter()
            build(d)
            ts[d] = time.perf_counter() - start
            release(spark)
        builds[label] = (ts[probe_dir()], ts[skew_root()])
        print(
            f"{label}: uniform {ts[probe_dir()]:.2f}s  skewed {ts[skew_root()]:.2f}s",
            file=sys.stderr,
        )

    # characterize the skew actually achieved (edge share of the hot
    # supplier node) — AFTER the timed builds, so the build numbers are
    # cold for BOTH fixtures instead of this read pre-building the
    # skewed store
    edges = _weighted_pairs(spark, skew_root())
    hot_node = f"s{HOT_SUPP}"
    tot, hot_e = edges.agg(
        F.count(F.lit(1)), F.sum((F.col("s") == hot_node).cast("long"))
    ).first()
    print(
        f"skew achieved: {hot_e}/{tot} trade edges "
        f"({100.0 * hot_e / tot:.1f}%) on node {hot_node}",
        file=sys.stderr,
    )
    release(spark)

    rows = []
    for name in QUERY_NAMES:
        fn = QUERIES[name].spark_fn
        t_uni = time_noop(spark, fn, probe_dir())
        release(spark)
        t_skew = time_noop(spark, fn, skew_root())
        release(spark)
        rows.append((name, t_uni, t_skew, t_skew / t_uni))
        print(
            f"{name}: uniform {t_uni:.2f}s  skewed {t_skew:.2f}s  "
            f"ratio {t_skew / t_uni:.2f}",
            file=sys.stderr,
        )

    print(
        f"\n## Skew probe: R={R} uniform vs one hot key "
        f"(~{100 // HOT_MOD}% of lineitem rows -> node s{HOT_SUPP} / "
        f"part {HOT_PART})\n"
    )
    print("| query | uniform (s) | skewed (s) | skew ratio |")
    print("|---|---|---|---|")
    for name, a, b, r in rows:
        print(f"| {name} | {a:.2f} | {b:.2f} | {r:.2f}x |")
    print("\n(store builds, one-time)\n")
    print("| store | uniform (s) | skewed (s) | ratio |")
    print("|---|---|---|---|")
    for label, (a, b) in builds.items():
        print(f"| {label} | {a:.2f} | {b:.2f} | {b / a:.2f}x |")
    spark.stop()


if __name__ == "__main__":
    main()
