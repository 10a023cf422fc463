"""Graph-analytics surface: PageRank over the supplier↔customer
interaction graph (who traded with whom via orders).

Complements the connected-components operator (``ops/components.py``) as
the second shuffle-bounded iterative graph algorithm: each PageRank
round is one join (edges ⋈ ranks on src) + one groupBy(dst) — the
classic "think like a vertex" shape that scales to billions of edges
because state per round is one rank per node and the shuffle keys are
the edge endpoints.  Iterations are unrolled (fixed count), which keeps
the whole computation a single declarative plan AND makes it exactly
expressible as chained SQL CTEs for the oracle — no driver-side loop
state, no convergence nondeterminism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mqtt2clickhouse_spark.queries.base import register, t
from mqtt2clickhouse_spark.tables import fan_out

#: damping factor and unrolled round count
_D = 0.85
_ROUNDS = 3
_TOPK = 30


def _fold_zero(col: F.Column) -> F.Column:
    """Collapse -0.0 to +0.0 — the driver's value hash distinguishes
    signed zeros, and `x + 0.0` survives constant folding with the sign
    intact.  Mirrors the CASE-WHEN fold in the DuckDB oracles."""
    return F.when(col == 0, F.lit(0.0)).otherwise(col)


def _weighted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(supplier, customer, weight) trade pairs — each UNDIRECTED edge
    of the shared graph exactly once, prefixed node ids, with the
    lineitem multiplicity as the edge weight.

    Materialized once per Spark session (``ops.store.materialized``)
    and read back as parquet — the graph family's shared edge table.
    Nine registered queries (pagerank, directed pagerank, LPA, weighted
    community seeding, modularity, assortativity, triangles, k-core,
    random walks, link prediction, HITS, BFS) all start from this
    subtree; recomputing the lineitem⋈orders join per query cost ~1s ×
    N at sf0.1, and at warehouse scale this is exactly a materialized
    edge VIEW — you build the graph once, not once per algorithm.  The
    groupBy replaces the old distinct (same pair set, one extra bigint
    column), so unweighted consumers just project the weight away."""
    from mqtt2clickhouse_spark.ops.store import materialized

    def build() -> DataFrame:
        li = fan_out(
            t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        )
        orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            )
            .groupBy("s", "c")
            .agg(F.count(F.lit(1)).cast("long").alias("wt"))
        )

    return materialized(spark, f"edges:{sf_dir}", build)


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (supplier, customer) trade pairs — the unweighted
    projection of the shared materialized edge view."""
    return _weighted_pairs(spark, sf_dir).select("s", "c")


def _sym_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric supplier<->customer trade graph every undirected
    graph query here runs on: distinct (supplier, customer) pairs via
    orders, prefixed node ids, both edge directions — ONE definition so
    pagerank / label_propagation / bfs_khop can never diverge on the
    graph they claim to share.  (pagerank_directed keeps its own
    one-direction construction — dangling nodes are its point.)"""
    pairs = _trade_pairs(spark, sf_dir)
    # both directions via ONE map-side explode, not a union of two
    # projections: union branches are separate subtrees, so the
    # lineitem-orders distinct join would plan (and run) twice
    # (measured: 8 scans, 0 ReusedExchange in the static plan)
    both = F.explode(
        F.array(
            F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
        )
    )
    return pairs.select(both.alias("e")).select("e.src", "e.dst")


def _duck_round(prev: str, i: int) -> str:
    return f"""
    r{i} AS (
        SELECT no.node,
               0.15 / (SELECT nn FROM n) + {_D} * coalesce(c.contrib, 0) AS rank
        FROM nodes no LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / d.outdeg) AS contrib
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
            GROUP BY 1) c ON no.node = c.node)"""


_DUCK_PAGERANK = (
    """
    WITH pairs AS (
        SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS s,
                        'c' || CAST(o.o_custkey AS VARCHAR) AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT s AS src, c AS dst FROM pairs
              UNION ALL
              SELECT c AS src, s AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT count(*) AS nn FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT nn FROM n) AS rank FROM nodes),"""
    + ",".join(_duck_round(f"r{i - 1}", i) for i in range(1, _ROUNDS + 1))
    + f"""
    SELECT node, round(rank * (SELECT nn FROM n), 6) AS rank_norm
    FROM r{_ROUNDS}
    ORDER BY rank_norm DESC, node LIMIT {_TOPK}
    """
)


@register(
    "pagerank",
    oracle=_DUCK_PAGERANK,
    description=f"PageRank ({_ROUNDS} unrolled rounds, d={_D}) over the "
    "symmetric supplier↔customer trade graph; top-30 nodes by "
    "size-normalized rank.",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges = distinct (supplier, customer) pairs via orders, made
    symmetric so the bipartite graph has no dangling mass.  Per round:
    edges⋈ranks (shuffle on src — edges pre-joined with out-degree and
    pinned once with localCheckpoint so iterations don't re-expand the
    build subtree) → groupBy(dst) partial-aggregated sum → left join
    back onto the node set.  Rank is normalized (×N, mean 1.0) and
    rounded BEFORE the top-k sort so cross-engine float noise can't
    reorder near-ties; final top-k is a TakeOrderedAndProject.
    """
    edges = _sym_trade_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )  # 2 consumers (deg build + ed join): pin or the pairs-distinct
    # subtree runs twice before ed's own pin takes over (diamond rule)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint(
        eager=False
    )
    # one pinned edge table with out-degree riding along: every round
    # reuses it instead of re-planning the pairs/deg subtree
    ed = edges.join(F.broadcast(deg), "src").localCheckpoint(eager=False)
    # the symmetric graph gives every node outdeg ≥ 1, so the degree
    # table IS the node set — no separate distinct over the edges
    nodes = deg.select(F.col("src").alias("node"))
    ncount = nodes.agg(F.count(F.lit(1)).alias("nn"))

    r = nodes.crossJoin(F.broadcast(ncount)).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("rank")
    )
    for _ in range(_ROUNDS):
        # rank state is one row per NODE — orders of magnitude smaller
        # than the edge table, so it broadcasts and the edges never
        # re-shuffle (at graph sizes where ranks outgrow the broadcast
        # limit, drop the hints: both joins co-partition on the edge key)
        contrib = (
            ed.join(F.broadcast(r), ed.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        # no localCheckpoint here: the rank state is referenced ONCE per
        # round (no diamond) and the broadcast hint already materializes
        # it at the round boundary — an extra checkpoint just pays a
        # second block-manager write (measured ~1s of 5 at sf0.1).
        # No nodes left-join either: the SYMMETRIC graph gives every
        # node >= 1 in-edge, so the contribution aggregate already
        # covers the full node set (the oracle's LEFT JOIN is the
        # general form; both produce identical rows here — A/B
        # verified).  On graphs with true dangling nodes, restore the
        # left join onto `nodes` with coalesce(contrib, 0).
        r = contrib.crossJoin(F.broadcast(ncount)).select(
            F.col("dst").alias("node"),
            (F.lit(0.15) / F.col("nn") + F.lit(_D) * F.col("contrib")).alias(
                "rank"
            ),
        )
    return (
        r.crossJoin(F.broadcast(ncount))
        .select("node", F.round(F.col("rank") * F.col("nn"), 6).alias("rank_norm"))
        .orderBy(F.desc("rank_norm"), "node")
        .limit(_TOPK)
    )


_LPA_ROUNDS = 2
_LPA_TOPK = 30


def _duck_lpa_round(prev: str, i: int) -> str:
    return f"""
    c{i} AS (
        SELECT e.dst AS node, r.label, count(*) AS c
        FROM edges e JOIN {prev} r ON e.src = r.node
        GROUP BY 1, 2),
    r{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, label) AS rn
            FROM c{i})
        WHERE rn = 1)"""


_DUCK_LPA = (
    """
    WITH pairs AS (
        SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS s,
                        'c' || CAST(o.o_custkey AS VARCHAR) AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT s AS src, c AS dst FROM pairs
              UNION ALL
              SELECT c AS src, s AS dst FROM pairs),
    r0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),"""
    + ",".join(_duck_lpa_round(f"r{i - 1}", i) for i in range(1, _LPA_ROUNDS + 1))
    + f"""
    SELECT label, CAST(count(*) AS BIGINT) AS size
    FROM r{_LPA_ROUNDS}
    GROUP BY label
    ORDER BY size DESC, label
    LIMIT {_LPA_TOPK}
    """
)


@register(
    "label_propagation",
    oracle=_DUCK_LPA,
    description=f"Synchronous label propagation ({_LPA_ROUNDS} unrolled "
    "rounds, most-frequent-neighbor-label updates, ties to the smallest "
    "label) over the supplier↔customer graph; top-30 communities by size "
    "— the deterministic community-detection twin of PageRank.",
)
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each round is the same vertex-program shape as PageRank: edges ⋈
    labels on src (label state = one row per node → broadcast, with the
    identical de-hint fallback when communities outgrow it), a
    partial-aggregable count per (node, candidate label), and a bounded
    per-node window (row_number over the handful of candidate labels a
    node sees — never over the corpus).  Synchronous min-tie-break
    updates make the fixpoint deterministic, which is what lets DuckDB
    replay it as chained CTEs.  The fixpoint itself is read from the
    materialized label store (built once per Spark session)."""
    labels = _lpa_labels_stored(spark, sf_dir)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .orderBy(F.desc("size"), "label")
        .limit(_LPA_TOPK)
    )


def _lpa_labels_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_lpa_labels`` materialized once per Spark session — community
    labels as DERIVED STATE, the same policy as the edge view they are
    computed from.  Both consumers (label_propagation's size report,
    graph_modularity's quality readout) were each paying the
    ``_LPA_ROUNDS`` iterative join rounds per call; at warehouse scale
    a labeling is computed when the graph lands and persisted next to
    it — queries score and report it, they don't re-run the fixpoint.
    The fixpoint is deterministic (synchronous rounds, integer counts,
    min-struct tie-breaks), so the stored table equals a direct
    ``_lpa_labels`` call — pinned by tests/test_edge_cache.py."""
    from mqtt2clickhouse_spark.ops.store import materialized

    return materialized(
        spark,
        f"lpa:{sf_dir}:r{_LPA_ROUNDS}",
        lambda: _lpa_labels(_sym_trade_edges(spark, sf_dir)).coalesce(1),
    )


def _lpa_labels(edges: DataFrame) -> DataFrame:
    """The LPA fixpoint state after ``_LPA_ROUNDS`` synchronous rounds:
    (node, label) for EVERY node — shared by label_propagation's size
    report and graph_modularity's quality readout so the two can never
    diverge on the labeling they claim to score.  Consumed through
    ``_lpa_labels_stored`` at query time; called directly only by the
    store build and the store-equality test."""
    edges = edges.localCheckpoint(eager=False)  # reused every round
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        counts = (
            edges.join(F.broadcast(labels), edges.src == labels.node)
            .groupBy(F.col("dst").alias("nd"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax-count-then-min-label as ONE aggregation: min over the
        # struct (-c, label) orders by count desc then label asc — same
        # winner as the row_number formulation without the per-node
        # window sort (the max_by trick assign_cells documents)
        # no localCheckpoint: label state is referenced once per round
        # and the broadcast hint already materializes it (same reasoning
        # as the PageRank rank state)
        labels = (
            counts.groupBy(F.col("nd").alias("node"))
            .agg(
                F.min_by("label", F.struct(-F.col("c"), F.col("label"))).alias(
                    "label"
                )
            )
        )
    return labels


def _duck_directed_round(prev: str, prev_dm: str, i: int) -> str:
    """One dangling-aware PageRank round: the general nodes-LEFT-JOIN
    form plus uniform redistribution of the dangling rank mass."""
    return f"""
    r{i} AS (
        SELECT no.node,
               0.15 / (SELECT nn FROM n)
               + {_D} * (coalesce(c.contrib, 0)
                         + (SELECT dm FROM {prev_dm}) / (SELECT nn FROM n)) AS rank
        FROM nodes no LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / d.outdeg) AS contrib
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
            GROUP BY 1) c ON no.node = c.node),
    d{i} AS (SELECT coalesce(sum(rank), 0) AS dm
             FROM r{i} JOIN dang USING (node))"""


_DUCK_PAGERANK_DIRECTED = (
    """
    WITH pairs AS (
        SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS s,
                        'c' || CAST(o.o_custkey AS VARCHAR) AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT s AS src, c AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    n AS (SELECT count(*) AS nn FROM nodes),
    dang AS (SELECT node FROM nodes
             WHERE node NOT IN (SELECT src FROM deg)),
    r0 AS (SELECT node, 1.0 / (SELECT nn FROM n) AS rank FROM nodes),
    d0 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r0 JOIN dang USING (node)),"""
    + ",".join(
        _duck_directed_round(f"r{i - 1}", f"d{i - 1}", i)
        for i in range(1, _ROUNDS + 1)
    )
    + f"""
    SELECT node, round(rank * (SELECT nn FROM n), 6) AS rank_norm
    FROM r{_ROUNDS}
    ORDER BY rank_norm DESC, node LIMIT {_TOPK}
    """
)


@register(
    "pagerank_directed",
    oracle=_DUCK_PAGERANK_DIRECTED,
    description=f"PageRank ({_ROUNDS} unrolled rounds, d={_D}) over the "
    "DIRECTED supplier→customer graph — every customer is a dangling node, "
    "so this attests the general left-join form plus uniform dangling-mass "
    "redistribution; top-30 nodes by size-normalized rank.",
)
def q_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The asymmetric-graph twin of ``pagerank``: edges run supplier →
    customer only, so customers have no out-edges and the symmetric
    query's contribution-aggregate-IS-the-node-set shortcut does NOT
    hold.  Each round therefore (a) left-joins the contribution
    aggregate back onto the pinned node set with coalesce(contrib, 0) —
    the general form the symmetric query documents as its fallback — and
    (b) redistributes the dangling rank mass uniformly (rank =
    0.15/N + d·(contrib + dm/N)), the textbook fix that keeps total rank
    conserved instead of decaying.  The dangling mass rides the SAME
    join + aggregate as the contributions via the virtual-sink
    formalization (each dangling node gets one pseudo-edge to a sink
    with outdeg 1, so the sink's contribution row IS dm) — no separate
    per-round job over the rank state; dm broadcasts back via crossJoin
    and everything else keeps the symmetric query's scale shape (pinned
    edges⋈outdeg table, broadcast node-sized rank state with the
    documented de-hint fallback).
    """
    # directed = the shared materialized pair table taken one-way
    # (supplier → customer); only the direction differs from pagerank
    edges = _trade_pairs(spark, sf_dir).select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint(
        eager=False
    )
    # asymmetric graph: the node set is src ∪ dst (NOT the degree table)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # reused every round (left join target)
    )
    ncount = nodes.agg(F.count(F.lit(1)).alias("nn"))
    # Virtual-sink formalization of dangling mass (the standard trick):
    # every dangling node gets one edge to a sink pseudo-node with
    # outdeg 1, so the per-round contribution aggregate ALSO produces
    # dm = sum of dangling ranks as the sink's row — one join + one
    # aggregate per round, no separate dangling-mass job over the rank
    # state (and therefore only one consumer of r per round).
    dang = nodes.join(deg.select(F.col("src").alias("node")), "node", "left_anti")
    sink_edges = dang.select(
        F.col("node").alias("src"),
        F.lit("__SINK__").alias("dst"),
        F.lit(1).cast("long").alias("outdeg"),
    )
    ed = (
        edges.join(F.broadcast(deg), "src")
        .select("src", "dst", "outdeg")
        .unionAll(sink_edges)
        .localCheckpoint(eager=False)
    )

    r = nodes.crossJoin(F.broadcast(ncount)).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("rank")
    )
    for _ in range(_ROUNDS):
        # contrib is the ONLY consumer of r; contrib itself feeds two
        # consumers (the sink-row dm scalar and the node left join), so
        # the pin moves to the (node-sized) aggregate — one checkpoint
        # per round either way, but one fewer job
        contrib = (
            ed.join(F.broadcast(r), ed.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
            .localCheckpoint(eager=False)
        )
        dm = contrib.filter(F.col("dst") == "__SINK__").agg(
            F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("dm")
        )
        r = (
            nodes.join(
                contrib.filter(F.col("dst") != "__SINK__"),
                nodes.node == contrib.dst,
                "left",
            )
            .crossJoin(F.broadcast(ncount))
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("nn")
                    + F.lit(_D)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dm") / F.col("nn")
                    )
                ).alias("rank"),
            )
        )
    return (
        r.crossJoin(F.broadcast(ncount))
        .select("node", F.round(F.col("rank") * F.col("nn"), 6).alias("rank_norm"))
        .orderBy(F.desc("rank_norm"), "node")
        .limit(_TOPK)
    )


#: triangle_count: co-purchase edge support floor and per-basket cap
_TRI_MIN_W = 2
_TRI_CAP = 8
_TRI_TOPK = 15

#: support-filtered co-purchase edge CTEs (shared by triangle_count and
#: graph_kcore): capped baskets → strictly-ordered pairs → weight floor
_DUCK_COP_EDGES = f"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    kept AS (
        SELECT l_orderkey, l_partkey FROM (
            SELECT l_orderkey, l_partkey,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_partkey) AS rk
            FROM items) s
        WHERE rk <= {_TRI_CAP}),
    pe AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
        FROM kept a JOIN kept b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
    edges AS (SELECT u, v FROM pe WHERE w >= {_TRI_MIN_W})"""

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-filtered co-purchase edge table (u < v part pairs in
    >= ``_TRI_MIN_W`` shared orders, baskets capped at ``_TRI_CAP``) —
    SHARED DERIVED STATE, materialized once per Spark session like the
    trade-edge view and the LPA labeling (same policy: three consumers
    — triangle_count, graph_kcore, link_prediction_ra — each paid the
    basket build per call; at warehouse scale the co-purchase graph is
    built once when the corpus lands and every graph algorithm reads
    it).  The build: baskets materialize in ONE partial-aggregable
    shuffle (``collect_set`` dedups; ``sort_array`` + ``slice`` keeps
    the CAP lowest keys), the <=CAP-element strictly-ordered pair
    expansion is map-side HOF work — no self-join — and the only other
    shuffle is the (u, v) support count.  Deterministic (integer keys,
    set semantics), so the stored table equals a direct build — pinned
    by tests/test_edge_cache.py."""
    from mqtt2clickhouse_spark.ops.graph import basket_pairs
    from mqtt2clickhouse_spark.ops.store import materialized

    def build() -> DataFrame:
        li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        pairs = basket_pairs(li, "l_orderkey", "l_partkey", cap=_TRI_CAP)
        return (
            pairs.groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= _TRI_MIN_W)
            .select("u", "v")
        )

    return materialized(spark, f"cop:{sf_dir}:c{_TRI_CAP}w{_TRI_MIN_W}", build)


_DUCK_TRIANGLES = f"""
    WITH {_DUCK_COP_EDGES},
    deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) t
        GROUP BY 1),
    ord AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
        FROM edges e
        JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    tri AS (
        SELECT a.src AS n1, a.dst AS n2, b.dst AS n3
        FROM ord a JOIN ord b ON a.src = b.src AND a.dst < b.dst
        JOIN edges e
          ON e.u = least(a.dst, b.dst) AND e.v = greatest(a.dst, b.dst)),
    per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
            SELECT n1 AS node FROM tri
            UNION ALL SELECT n2 FROM tri
            UNION ALL SELECT n3 FROM tri) t
        GROUP BY 1),
    total AS (SELECT CAST(count(*) AS BIGINT) AS total_tri FROM tri)
    SELECT p.node, p.n_tri, t.total_tri
    FROM per_node p CROSS JOIN total t
    ORDER BY p.n_tri DESC, p.node LIMIT {_TRI_TOPK}
"""


@register(
    "triangle_count",
    oracle=_DUCK_TRIANGLES,
    description=f"Triangle counting on the co-purchase graph (edge = part "
    f"pair in >= {_TRI_MIN_W} shared orders, baskets capped at {_TRI_CAP}): "
    "degree-ordered edge orientation, wedge join, closing-edge verify; "
    f"top-{_TRI_TOPK} nodes by triangle participation plus the global total.",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MapReduce-classic degree-orientation algorithm (Cohen 2009):
    orient every undirected edge from its lower-(degree, id) endpoint to
    the higher one — each triangle then has exactly ONE wedge rooted at
    its smallest vertex, and out-degrees are bounded by O(sqrt(m)), so
    the wedge join produces sum(outdeg^2) = O(m^1.5) candidates instead
    of the hub-quadratic blowup an unoriented wedge join suffers on
    skewed graphs.  Three equijoins total (orient, wedge, close), all
    hash-partitioned by Catalyst; the basket cap and the edge-support
    floor are the same hot-key guards the co-purchase query documents.
    The oriented edge table feeds both the wedge self-join and the
    closing-edge probe, and the final top-k is a TakeOrderedAndProject.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=False)  # 2 consumers: both wedge sides
    wa, wb = oriented.alias("wa"), oriented.alias("wb")
    wedges = wa.join(
        wb,
        (F.col("wa.src") == F.col("wb.src")) & (F.col("wa.dst") < F.col("wb.dst")),
    ).select(
        F.col("wa.src").alias("n1"),
        F.col("wa.dst").alias("n2"),
        F.col("wb.dst").alias("n3"),
    )
    tri = wedges.join(
        edges,
        (F.col("u") == F.least("n2", "n3")) & (F.col("v") == F.greatest("n2", "n3")),
    ).select("n1", "n2", "n3").localCheckpoint(eager=False)  # per_node + total
    per_node = (
        tri.select(F.col("n1").alias("node"))
        .unionAll(tri.select(F.col("n2").alias("node")))
        .unionAll(tri.select(F.col("n3").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    total = tri.agg(F.count(F.lit(1)).cast("long").alias("total_tri"))
    return (
        per_node.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_tri"), "node")
        .limit(_TRI_TOPK)
    )


#: graph_kcore: core order and unrolled peel rounds
_KCORE_K = 3
_KCORE_ROUNDS = 3


def _duck_kcore_round(i: int) -> str:
    return f"""
    d{i} AS (SELECT node, count(*) AS d FROM (
                 SELECT u AS node FROM e{i - 1}
                 UNION ALL SELECT v FROM e{i - 1}) t
             GROUP BY 1),
    k{i} AS (SELECT node FROM d{i} WHERE d >= {_KCORE_K}),
    e{i} AS (SELECT u, v FROM e{i - 1}
             WHERE u IN (SELECT node FROM k{i})
               AND v IN (SELECT node FROM k{i})),
    s{i} AS (SELECT {i} AS round,
                    CAST((SELECT count(*) FROM k{i}) AS BIGINT) AS n_nodes,
                    CAST((SELECT count(*) FROM e{i}) AS BIGINT) AS n_edges)"""


_DUCK_KCORE = (
    f"""
    WITH {_DUCK_COP_EDGES},
    e0 AS (SELECT u, v FROM edges),"""
    + ",".join(_duck_kcore_round(i) for i in range(1, _KCORE_ROUNDS + 1))
    + "\n    "
    + " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, _KCORE_ROUNDS + 1)
    )
)


@register(
    "graph_kcore",
    oracle=_DUCK_KCORE,
    description=f"k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} unrolled "
    "rounds) on the support-filtered co-purchase graph: each round drops "
    "nodes of degree < k and the edges they carried; per-round surviving "
    "node/edge counts show the shrink-to-core trajectory.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core decomposition by iterative peeling — the fourth leg of the
    graph suite (centrality: pagerank, clustering: triangle_count,
    communities: label_propagation, connectivity: dedup_components).
    Each peel round is one partial-aggregable degree count plus two
    broadcast SEMI-joins against the (shrinking) survivor set — the
    corpus-sized edge table never shuffles after the shared
    ``_copurchase_edges`` build, and each round's edge set is pinned
    because it feeds the next round AND its own count.  Rounds are
    unrolled (fixed count, like pagerank/LPA) so the whole computation
    is one declarative plan the oracle replays as chained CTEs; at the
    fixture's support floor the graph reaches its 3-core fixpoint within
    the unrolled rounds (visible in the output: counts stop moving).
    """
    cur = _copurchase_edges(spark, sf_dir)
    out = None
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        kept = (
            deg.filter(F.col("d") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=False)  # two semi-joins + the count
        )
        nxt = (
            cur.join(
                F.broadcast(kept), cur["u"] == kept["node"], "left_semi"
            )
            .join(F.broadcast(kept), F.col("v") == kept["node"], "left_semi")
            .localCheckpoint(eager=False)  # next round + the count
        )
        row = (
            kept.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .crossJoin(nxt.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
            .select(F.lit(i).alias("round"), "n_nodes", "n_edges")
        )
        out = row if out is None else out.unionAll(row)
        cur = nxt
    return out


#: bfs_khop: hop limit and source supplier keys
_BFS_K = 3
_BFS_SOURCES = [1, 2, 3]


def _duck_bfs() -> str:
    srcs = " UNION ALL ".join(
        f"SELECT 's{k}' AS node" for k in _BFS_SOURCES
    )
    ctes = [
        f"""e AS (
        SELECT s, c FROM (
            SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS s,
                   'c' || CAST(o.o_custkey AS VARCHAR) AS c
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)),
    ed AS (SELECT s AS src, c AS dst FROM e
           UNION ALL SELECT c AS src, s AS dst FROM e),
    r0 AS ({srcs})"""
    ]
    for i in range(1, _BFS_K + 1):
        ctes.append(
            f"""r{i} AS (
        SELECT DISTINCT ed.dst AS node
        FROM ed JOIN r{i - 1} ON ed.src = r{i - 1}.node)"""
        )
    reach = " UNION ALL ".join(
        f"SELECT node, {i} AS d FROM r{i}" for i in range(_BFS_K + 1)
    )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT node, CAST(min(d) AS BIGINT) AS dist
    FROM ({reach}) GROUP BY 1
    """
    )


@register(
    "bfs_khop",
    oracle=_duck_bfs(),
    description=f"Bounded BFS: shortest-path distance (<= {_BFS_K} hops) "
    f"from suppliers {_BFS_SOURCES} over the symmetric supplier-customer "
    "trade graph — the k-hop neighborhood expansion behind blast-radius, "
    "fraud-ring, and affiliation queries; completes the graph family "
    "(PageRank/LPA/components/triangles/k-core) with the traversal "
    "class.",
)
def bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-expansion BFS as unrolled rounds: each hop is ONE join
    of the pinned edge table against the previous frontier (broadcast
    while the frontier is small — exactly Pregel's message pass), and
    the distance label closes with a single min-aggregate over the
    per-round reach sets instead of per-round anti-joins — fewer
    shuffles, same answer, and the min-aggregate is the associative
    merge that would let rounds checkpoint independently at scale.
    Frontiers are deduplicated per round so a dense graph cannot
    re-expand exponentially.  Scale limit: F.broadcast() is a HARD
    hint (not subject to autoBroadcastJoinThreshold), so a deployment
    whose frontiers outgrow broadcast memory must REMOVE the hint and
    let the hop shuffle-join on src — the same manual de-hint edit
    pagerank documents for its rank state."""
    ed = _sym_trade_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )  # every hop re-reads the edges
    reach = spark.createDataFrame(
        [(f"s{k}",) for k in _BFS_SOURCES], "node string"
    )
    levels = [reach.select("node", F.lit(0).alias("d"))]
    for i in range(1, _BFS_K + 1):
        expanded = ed.join(F.broadcast(reach), ed.src == reach.node).select(
            F.col("dst").alias("node")
        )
        if i < _BFS_K:
            # dedup + pin only frontiers that feed ANOTHER hop: the
            # broadcast must stay node-sized and the frontier has two
            # consumers.  The LAST hop flows straight into the final
            # min-aggregate, whose map-side partial aggregation dedups
            # for free — its old distinct+checkpoint was a full extra
            # exchange and materialization for nothing (r15).
            reach = expanded.distinct().localCheckpoint(eager=False)
            levels.append(reach.select("node", F.lit(i).alias("d")))
        else:
            levels.append(expanded.select("node", F.lit(i).alias("d")))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out.groupBy("node").agg(F.min("d").cast("long").alias("dist"))


#: link_prediction_ra: quantization scale for the Resource Allocation
#: terms (1/deg summed as exact integers) and the report size
_RA_SCALE = 10**12
_RA_TOPK = 20

#: Hub-mediator cap (r10 skew probe): the wedge expansion is quadratic
#: in center degree, so ONE hot key holding ~20% of edges OOMs the map
#: task at scale (reproduced: R=30 replica with a global hot part —
#: d^2 pair structs materialize in a single row).  A center above this
#: degree does not mediate: each of its RA terms is 1/d ~ 0 by
#: construction (Zhou et al. 2009's index is DESIGNED to discount
#: hubs), so exclusion changes scores negligibly while bounding the
#: expansion at cap^2.  Mirrored into the DuckDB oracle exactly like
#: the basket cap.  Never binds on real fixtures (measured max
#: co-purchase degree: 13 at sf0.01, 5 at sf0.1; block-diagonal
#: replicas preserve per-block degrees), and 4096 < 8192 keeps the
#: round(1e12/d) .5-tie impossibility argument intact.
_RA_MAX_DEG = 4096


def _ra_from_edges(edges: DataFrame) -> DataFrame:
    """Resource-Allocation top-k over an undirected (u, v) edge table —
    the whole link_prediction_ra computation after the edge store, and
    the unit seam for the hub-cap semantics (tests/test_plans.py pins
    that a center above ``_RA_MAX_DEG`` mediates nothing)."""
    und = edges.select(F.col("u").alias("w"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    # the hub cap must run BEFORE the quadratic expansion — that is the
    # entire point (filtering pairs afterwards would still OOM the
    # task) — and, since r11, BEFORE collect_set too: the r10 shape
    # dropped hubs by size(ns) AFTER their full neighbor array had
    # materialized in the aggregation buffer (the LSH pre-collect
    # class).  Degrees come from a partial-aggregable COUNT (edges are
    # distinct pairs from the store, so count == set size), hub keys
    # anti-join out, and only capped groups ever collect.
    from mqtt2clickhouse_spark.ops.skew import drop_oversize_keys

    und = drop_oversize_keys(und, ["w"], _RA_MAX_DEG)
    nbrs = und.groupBy("w").agg(
        F.sort_array(F.collect_set("n")).alias("ns")
    )
    term = F.round(F.lit(_RA_SCALE) / F.size("ns")).cast("long")
    pairs = nbrs.select(
        term.alias("t"),
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) -> "
                "transform(slice(ns, i + 2, size(ns)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("p"),
    ).select(F.col("p.u").alias("u"), F.col("p.v").alias("v"), "t")
    scored = (
        pairs.join(edges, ["u", "v"], "left_anti")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("t").cast("long").alias("s"),
        )
    )
    return (
        scored.orderBy(F.col("s").desc(), "u", "v")
        .limit(_RA_TOPK)
        .select(
            "u",
            "v",
            "n_common",
            F.round(F.col("s").cast("double") / _RA_SCALE, 6).alias(
                "ra_score"
            ),
        )
    )


@register(
    "link_prediction_ra",
    oracle=f"""
    WITH {_DUCK_COP_EDGES},
    und AS (SELECT u AS w, v AS n FROM edges
            UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT w AS node, CAST(count(*) AS BIGINT) AS d
            FROM und GROUP BY 1),
    wedge AS (
        SELECT a.n AS u, b.n AS v, a.w AS center
        FROM und a JOIN und b ON a.w = b.w AND a.n < b.n),
    scored AS (
        SELECT wd.u, wd.v,
               CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(CAST(round({_RA_SCALE} / d.d) AS BIGINT))
                    AS BIGINT) AS s
        FROM wedge wd JOIN deg d ON d.node = wd.center
                                AND d.d <= {_RA_MAX_DEG}
        WHERE NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.u = wd.u AND e.v = wd.v)
        GROUP BY 1, 2)
    SELECT u, v, n_common,
           round(CAST(s AS DOUBLE) / {_RA_SCALE}, 6) AS ra_score
    FROM scored
    ORDER BY s DESC, u, v LIMIT {_RA_TOPK}
    """,
    description=f"Link prediction on the co-purchase graph: top-{_RA_TOPK} "
    "NOT-yet-connected part pairs by Resource Allocation index "
    "(sum over common neighbors of 1/degree — Zhou et al. 2009, the "
    "strongest of the classic local similarity indices), the "
    "recommend-next-edge / graph-densification primitive; centers above "
    f"degree {_RA_MAX_DEG} do not mediate (hot-key guard, mirrored in "
    "the oracle).",
)
def link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge generation uses the triangle_count/copurchase map-side
    idiom: ONE partial-aggregable shuffle collects each center's sorted
    neighbor set, the degree is simply size(ns) (no separate degree
    join), and the strictly-ordered pair expansion runs map-side with
    nested HOF transforms — no wedge self-join.  Two shuffles total
    (neighbor-set build + the per-pair aggregate) plus the anti join.
    Exactness: each 1/deg term is quantized to an integer
    (round(1e12/d) — .5 ties are impossible below degree 8192 since
    2e12 = 2^13*5^12), so the per-pair sum is exact integer arithmetic
    in any order and the ranking cannot float-drift.  The existing-edge
    exclusion is a broadcast-able anti join on the support-filtered
    edge table, and the final ranking is one TakeOrderedAndProject.
    Degrees are bounded by the support filter + basket cap on real
    data; adversarial hot keys are bounded by ``_RA_MAX_DEG`` (the r10
    skew probe OOM'd the uncapped expansion at R=30 with one global
    hot part — see the cap's comment)."""
    return _ra_from_edges(_copurchase_edges(spark, sf_dir))


#: Newman-modularity readout over CTEs ``pairs`` (s, c) / ``edges``
#: (src, dst, both directions) / ``lab`` (node, label) — ONE SQL tail
#: shared by every oracle that scores a labeling, so "scored by the
#: same metric" is true by construction.
_DUCK_MOD_READOUT = """,
    mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    comm AS (SELECT l.label, CAST(count(*) AS BIGINT) AS size,
                    CAST(sum(d.d) AS BIGINT) AS d_c
             FROM lab l JOIN deg d USING (node) GROUP BY 1),
    intra AS (SELECT ls.label, CAST(count(*) AS BIGINT) AS e_c
              FROM pairs p
              JOIN lab ls ON ls.node = p.s
              JOIN lab lc ON lc.node = p.c AND lc.label = ls.label
              GROUP BY 1),
    j AS (SELECT c.label, c.size, coalesce(i.e_c, 0) AS e_c, c.d_c
          FROM comm c LEFT JOIN intra i USING (label)),
    tot AS (SELECT CAST(sum(4 * mt.m * j.e_c - j.d_c * j.d_c) AS BIGINT)
                       AS num
            FROM j CROSS JOIN mt),
    q AS (SELECT j.label, j.size, j.e_c, j.d_c,
                 round(CAST(4 * mt.m * j.e_c - j.d_c * j.d_c AS DOUBLE)
                       / (4.0 * mt.m * mt.m), 6) AS q_c_raw,
                 round(CAST(tot.num AS DOUBLE) / (4.0 * mt.m * mt.m), 6)
                     AS q_total_raw
          FROM j CROSS JOIN mt CROSS JOIN tot)
    -- DuckDB round() preserves -0.0 (e.g. a tiny negative numerator that
    -- rounds to zero at 6dp); the driver's value hash is sign-bit
    -- sensitive, so fold signed zeros explicitly (NOTES "Hard-won facts").
    -- `x + 0.0` is NOT enough: constant folding keeps -0.0.
    SELECT label, size, e_c, d_c,
           CASE WHEN q_c_raw = 0 THEN 0.0 ELSE q_c_raw END AS q_c,
           CASE WHEN q_total_raw = 0 THEN 0.0 ELSE q_total_raw END
               AS q_total
    FROM q
    ORDER BY size DESC, label LIMIT 10
    """


_DUCK_MODULARITY = (
    """
    WITH pairs AS (
        SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS s,
                        'c' || CAST(o.o_custkey AS VARCHAR) AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT s AS src, c AS dst FROM pairs
              UNION ALL
              SELECT c AS src, s AS dst FROM pairs),
    r0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),"""
    + ",".join(_duck_lpa_round(f"r{i - 1}", i) for i in range(1, _LPA_ROUNDS + 1))
    + f""",
    lab AS (SELECT node, label FROM r{_LPA_ROUNDS})"""
    + _DUCK_MOD_READOUT
)


@register(
    "graph_modularity",
    oracle=_DUCK_MODULARITY,
    description="Newman modularity of the label-propagation communities "
    "(shared _lpa_labels state, so the scored labeling IS "
    "label_propagation's): per top-10 community, intra-community edge "
    "count, degree mass, and its modularity contribution e_c/m - "
    "(d_c/2m)^2, plus the global Q — the community-QUALITY readout "
    "that tells you whether LPA found structure or noise.  And it "
    "DOES tell: Q = -0.487 with e_c = 0 everywhere at sf0.01 — "
    "synchronous LPA on a bipartite graph oscillates, and even-round "
    "labels partition by SIDE (supplier communities vs customer "
    "communities, zero intra edges on a graph with only cross-side "
    "edges).  The metric catching a textbook pathology in our own "
    "labeling is the honest demonstration of why you score "
    "communities before trusting them.  Computed entirely in integers "
    "(4m*e_c - d_c^2 over 4m^2) so Q is summation-order-exact.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One extra aggregate pass over the LPA machinery: the pinned
    undirected pair table feeds edges, m, and the intra-community
    count (labels broadcast onto both endpoints); degrees and
    community sizes are partial-combining aggregates; the global Q
    numerator is an exact-integer 1-row aggregate cross-joined back.
    Bipartite caveat documented honestly: supplier<->customer has no
    s-s or c-c edges, so max attainable Q is bounded below 1 — the
    value still ranks labelings and detects degenerate ones (Q ~ 0)."""
    pairs = _trade_pairs(spark, sf_dir).localCheckpoint(
        eager=False
    )  # feeds edges, m, and the intra count
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    # labels from the materialized store: a cheap columnar parquet scan
    # per consumer (no localCheckpoint pin needed — the store IS the pin)
    labels = _lpa_labels_stored(spark, sf_dir)
    return _modularity_readout(pairs, edges, labels)


def _modularity_readout(
    pairs: DataFrame, edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Newman-modularity scoring of a (node, label) table over the
    undirected pair graph — the Spark twin of ``_DUCK_MOD_READOUT``,
    shared by ``graph_modularity`` (LPA labels) and
    ``community_seeded`` (weighted seeding) so both queries score with
    the IDENTICAL metric.  All integer arithmetic (4m·e_c − d_c² over
    4m²) until the final rounded division; signed zeros folded."""
    mt = pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    comm = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("size"),
            F.sum("d").cast("long").alias("d_c"),
        )
    )
    ls = labels.select(F.col("node").alias("s"), F.col("label").alias("label_s"))
    lc = labels.select(F.col("node").alias("c"), F.col("label").alias("label_c"))
    intra = (
        pairs.join(F.broadcast(ls), "s")
        .join(F.broadcast(lc), "c")
        .filter(F.col("label_s") == F.col("label_c"))
        .groupBy(F.col("label_s").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    jt = (
        comm.join(intra, "label", "left")
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(mt))
        .withColumn(
            "num", (4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c"))
        )
    ).localCheckpoint(eager=False)  # feeds total + per-community rows
    tot = jt.agg(F.sum("num").cast("long").alias("tnum"))
    return (
        jt.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "size",
            "e_c",
            "d_c",
            _fold_zero(
                F.round(
                    F.col("num").cast("double")
                    / (4.0 * F.col("m") * F.col("m")),
                    6,
                )
            ).alias("q_c"),
            _fold_zero(
                F.round(
                    F.col("tnum").cast("double")
                    / (4.0 * F.col("m") * F.col("m")),
                    6,
                )
            ).alias("q_total"),
        )
        .orderBy(F.desc("size"), "label")
        .limit(10)
    )


_DUCK_COMMUNITY_SEEDED = (
    """
    WITH w AS (
        SELECT 's' || CAST(l.l_suppkey AS VARCHAR) AS s,
               'c' || CAST(o.o_custkey AS VARCHAR) AS c,
               CAST(count(*) AS BIGINT) AS wt
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    pairs AS (SELECT s, c FROM w),
    edges AS (SELECT s AS src, c AS dst FROM pairs
              UNION ALL
              SELECT c AS src, s AS dst FROM pairs),
    cl AS (SELECT node, label FROM (
               SELECT c AS node, s AS label,
                      row_number() OVER (PARTITION BY c
                                         ORDER BY wt DESC, s) AS rn
               FROM w) WHERE rn = 1),
    lab AS (SELECT node, label FROM cl
            UNION ALL
            SELECT DISTINCT s, s FROM w)"""
    + _DUCK_MOD_READOUT
)


@register(
    "community_seeded",
    oracle=_DUCK_COMMUNITY_SEEDED,
    description="Weighted seeded community labeling that SUCCEEDS where "
    "synchronous LPA oscillates (graph_modularity's honest Q = -0.487 "
    "finding): suppliers seed their own community and each customer "
    "joins its dominant supplier by lineitem-weighted edge multiplicity "
    "(ties to the smallest supplier id) — one semi-synchronous "
    "half-round that cannot oscillate because only one side of the "
    "bipartite graph updates.  Scored by the IDENTICAL Newman "
    "modularity readout graph_modularity uses (shared code + shared "
    "SQL tail): Q = +0.019 at sf0.01 with 100 supplier-anchored "
    "communities vs LPA's -0.487 — the cross-checked demonstration "
    "that the metric separates a working labeling from a degenerate "
    "one on the same graph.",
)
def community_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One weighted argmax per customer (min_by over the struct
    (-wt, s) — the max_by trick, no per-node window sort), a distinct
    projection for the supplier seeds, then the shared
    ``_modularity_readout``.  The weighted pair table comes straight
    from the materialized edge view (one parquet scan, weights
    included), so the whole labeling is one shuffle (the per-customer
    argmax) on top of the shared readout — no iteration, no
    oscillation, and at 100 TB the argmax is a partial-combining
    aggregate keyed by customer."""
    w = _weighted_pairs(spark, sf_dir).localCheckpoint(
        eager=False
    )  # consumers: labels argmax + seeds + readout pairs
    cl = w.groupBy(F.col("c").alias("node")).agg(
        F.min_by("s", F.struct(-F.col("wt"), F.col("s"))).alias("label")
    )
    seeds = (
        w.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    labels = cl.unionAll(seeds).localCheckpoint(eager=False)  # 3 consumers
    pairs = w.select("s", "c")
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionAll(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    return _modularity_readout(pairs, edges, labels)


@register(
    "graph_assortativity",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS s,
                        'c' || CAST(o.o_custkey AS VARCHAR) AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT s AS src, c AS dst FROM pairs
              UNION ALL
              SELECT c AS src, s AS dst FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    ed AS (
        SELECT du.d AS x, dv.d AS y
        FROM edges e
        JOIN deg du ON du.node = e.src
        JOIN deg dv ON dv.node = e.dst),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM ed)
    SELECT n AS n_directed_edges,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6)
               AS assortativity
    FROM s
    """,
    description="Degree assortativity of the supplier<->customer trade "
    "graph (Newman 2002): the Pearson correlation of endpoint degrees "
    "over every directed edge — negative = hubs attach to leaves "
    "(disassortative, typical of bipartite commerce/interaction "
    "graphs), positive = rich-club.  Measures -0.996 at sf0.01: the "
    "fixture's ~100 high-degree suppliers vs ~15k low-degree customers "
    "make nearly every edge hub-to-leaf — exactly the skew signature "
    "that says salt the supplier side before any edge-keyed join.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All five moments are EXACT integer sums over the degree-joined
    edge list (degrees are bounded ints; sum(x*y) over |E| edges stays
    far inside int64), so the correlation is bit-identical across
    engines and partitionings — the only floating point is the final
    closed-form division (IEEE sqrt is correctly rounded).  Plan: one
    degree aggregate, two broadcast-able joins of the degree table
    onto the edges, one 1-row moment aggregate."""
    edges = _sym_trade_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )  # 2 consumers (degree build + moment join): pin or the
    # lineitem-join-distinct subtree runs twice (diamond rule)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint(eager=False)  # joined twice
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    ed = edges.join(F.broadcast(du), "src").join(F.broadcast(dv), "dst")
    s = ed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# -- HITS hubs & authorities ------------------------------------------------
#: L1-normalization quantization scale (exact integer state per round).
#: Bound check: SCALE * max-state <= SCALE^2 * max-degree — at 1e6 and
#: fixture degrees (<= ~2e4) the largest intermediate is ~1.5e16 << 2^63;
#: raise degrees by 100x before this needs a smaller scale or a
#: per-round right-shift.
_HITS_SCALE = 10**6


def _duck_hits_norm(raw: str, key: str) -> str:
    return (
        f"SELECT {key}, ({_HITS_SCALE} * x) // "
        f"(SELECT CAST(sum(x) AS BIGINT) FROM {raw}) AS q FROM {raw}"
    )


@register(
    "hits_ranking",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS s,
               'c' || CAST(o_custkey AS VARCHAR) AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    a1r AS (SELECT c, CAST(count(*) AS BIGINT) AS x FROM e GROUP BY 1),
    a1 AS ({_duck_hits_norm("a1r", "c")}),
    h1r AS (SELECT e.s, CAST(sum(a1.q) AS BIGINT) AS x
            FROM e JOIN a1 ON e.c = a1.c GROUP BY 1),
    h1 AS ({_duck_hits_norm("h1r", "s")}),
    a2r AS (SELECT e.c, CAST(sum(h1.q) AS BIGINT) AS x
            FROM e JOIN h1 ON e.s = h1.s GROUP BY 1),
    a2 AS ({_duck_hits_norm("a2r", "c")}),
    h2r AS (SELECT e.s, CAST(sum(a2.q) AS BIGINT) AS x
            FROM e JOIN a2 ON e.c = a2.c GROUP BY 1),
    h2 AS ({_duck_hits_norm("h2r", "s")}),
    top_a AS (SELECT 'authority' AS side, c AS node, q
              FROM a2 ORDER BY q DESC, c LIMIT 10),
    top_h AS (SELECT 'hub' AS side, s AS node, q
              FROM h2 ORDER BY q DESC, s LIMIT 10)
    SELECT side, node,
           round(CAST(q AS DOUBLE) / {_HITS_SCALE}, 6) AS score,
           CAST(row_number() OVER (PARTITION BY side
                                   ORDER BY q DESC, node) AS BIGINT) AS rnk
    FROM (SELECT * FROM top_a UNION ALL SELECT * FROM top_h) u
    ORDER BY side, rnk
    """,
    description="HITS link analysis on the directed supplier->customer "
    "trade graph: two unrolled hub/authority mutual-reinforcement "
    "rounds (authority = sum of pointing hubs, hub = sum of pointed-to "
    "authorities), L1-normalized each half-round in exact integer "
    "arithmetic (quantized x1e6, floor-div by the L1 total), top-10 of "
    "each side with deterministic ranks — the query-dependent "
    "counterpart of PageRank (which ranks by global structure; HITS "
    "separates 'good directories' from 'good content').",
)
def hits_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scale skeleton as ``pagerank_directed``: the distinct edge
    table is built once and pinned (every half-round joins it), each
    half-round is ONE node-state join + partial-aggregable sum keyed by
    the receiving side, and the L1 totals broadcast back as 1-row
    crossJoins.  Un-normalized state tables are pinned because each has
    two consumers (the total and the normalize) — node-sized output,
    so the materialization is cheap; normalized states flow straight
    into the next half-round.  Integer L1 normalization (floor-div by
    the exact total) keeps every round's state identical across
    engines — no float drift can reorder the final ranks.  Readout is
    two TakeOrderedAndProject top-10s; the rank window only ever sees
    the 20-row union.  Reference scope note: link analysis is outside
    mqtt2clickhouse's surface; this extends the warehouse's graph
    family (pagerank / k-core / LPA / triangles)."""
    pairs = _trade_pairs(spark, sf_dir)
    e = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).localCheckpoint(eager=False)

    def norm(raw: DataFrame, key: str) -> DataFrame:
        tot = raw.agg(F.sum("x").cast("long").alias("tot"))
        return raw.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr(f"({_HITS_SCALE} * x) div tot").cast("long").alias("q"),
        )

    a1r = (
        e.groupBy("dst")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    a1 = norm(a1r, "dst")
    h1r = (
        e.join(a1, "dst")
        .groupBy("src")
        .agg(F.sum("q").cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    h1 = norm(h1r, "src")
    a2r = (
        e.join(h1, "src")
        .groupBy("dst")
        .agg(F.sum("q").cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    a2 = norm(a2r, "dst")
    h2r = (
        e.join(a2, "dst")
        .groupBy("src")
        .agg(F.sum("q").cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    h2 = norm(h2r, "src")

    top_a = (
        a2.orderBy(F.desc("q"), "dst")
        .limit(10)
        .select(F.lit("authority").alias("side"), F.col("dst").alias("node"), "q")
    )
    top_h = (
        h2.orderBy(F.desc("q"), "src")
        .limit(10)
        .select(F.lit("hub").alias("side"), F.col("src").alias("node"), "q")
    )
    u = top_a.unionAll(top_h)
    w = W.partitionBy("side").orderBy(F.desc("q"), "node")
    return (
        u.select(
            "side",
            "node",
            F.round(F.col("q").cast("double") / _HITS_SCALE, 6).alias("score"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .orderBy("side", "rnk")
    )


# -- deterministic random-walk corpus (node2vec preprocessing) -------------
#: walks per start node / steps per walk / neighbor-array cap
_RW_WALKS = 4
_RW_STEPS = 4
_RW_CAP = 1024

#: shared pre-collect rank filter (ops/skew.py) — aliased so tests and
#: in-module callers keep one name
from mqtt2clickhouse_spark.ops.skew import bounded_lowest as _bounded_lowest  # noqa: E402

_RW_HASH = (
    "CAST(list_sum(list_transform(range(1, 9), i -> "
    "(strpos('0123456789abcdef', substring(md5({x}), i, 1)) - 1) "
    "* (16 ** (8 - i)))) AS BIGINT)"
)


def _duck_rw_step(prev: str, i: int) -> str:
    h = _RW_HASH.format(
        x=f"{prev}.start || ':' || CAST({prev}.w AS VARCHAR) "
        f"|| ':{i}:' || {prev}.cur"
    )
    return f"""
    w{i} AS (
        SELECT {prev}.start, {prev}.w,
               n.arr[CAST({h} % len(n.arr) AS INTEGER) + 1] AS cur,
               {prev}.path || '>' ||
               n.arr[CAST({h} % len(n.arr) AS INTEGER) + 1] AS path
        FROM {prev} JOIN nbrs n ON n.src = {prev}.cur)"""


@register(
    "graph_random_walks",
    oracle=f"""
    WITH p AS (
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS s,
               'c' || CAST(o_custkey AS VARCHAR) AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT s AS src, c AS dst FROM p
          UNION ALL SELECT c, s FROM p),
    nbrs AS (
        SELECT src, (list_sort(list(dst)))[1:{_RW_CAP}] AS arr
        FROM e GROUP BY 1),
    w0 AS (
        SELECT src AS start, i.w, src AS cur, src AS path
        FROM nbrs CROSS JOIN
             (SELECT unnest(range({_RW_WALKS})) AS w) i
        WHERE src LIKE 's%'),
    {",".join(_duck_rw_step(f"w{i - 1}", i) for i in range(1, _RW_STEPS + 1))}
    SELECT start, CAST(w AS BIGINT) AS walk, path
    FROM w{_RW_STEPS} ORDER BY start, walk
    """,
    description=f"Deterministic random-walk corpus generation "
    f"(node2vec / DeepWalk preprocessing): {_RW_WALKS} walks of "
    f"{_RW_STEPS} steps from every supplier node over the symmetric "
    "trade graph, each next hop chosen by indexing the current node's "
    "sorted neighbor array with a hash of (start, walk, step, "
    "current) — the full walk corpus is hash-checked path-for-path.  "
    "The step that turns a graph into training sequences for skipgram "
    "embedding models; hash-derived hops make the corpus reproducible "
    "across engines, partitionings, and reruns.",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The neighbor-array table is built ONCE (one shuffle; arrays
    sorted and capped at {cap} — at hub-node scale the cap bounds both
    memory and the hash modulus, with selection bias documented) and
    pinned — every step joins it.  Each step is ONE equi-join keyed on
    the current node plus map-side hash indexing: L steps = L joins,
    no iteration state on the driver, and walk count scales the row
    count, not the join count.  At 100 TB: starts partition the walk
    workload embarrassingly; the neighbor table is the only shared
    state (broadcast if it fits, shuffle-join if not).""".format(
        cap=_RW_CAP
    )
    from mqtt2clickhouse_spark.ops.dedup import hash32

    pairs = _trade_pairs(spark, sf_dir)
    e = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    # rank-filter BEFORE collect (r11 collect-site audit): the
    # slice-after-collect shape materialized a hot node's FULL
    # neighbor list in one aggregation buffer before truncating it;
    # the rank filter bounds the buffer at _RW_CAP and the window sort
    # it costs is spillable
    nbrs = (
        _bounded_lowest(e, "src", "dst", _RW_CAP)
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("arr"))
        .localCheckpoint(eager=False)  # joined once per step
    )
    cur = (
        nbrs.filter(F.col("src").startswith("s"))
        .select(
            F.col("src").alias("start"),
            F.explode(
                F.array(*[F.lit(i) for i in range(_RW_WALKS)])
            ).alias("w"),
        )
        .select("start", "w", F.col("start").alias("cur"), F.col("start").alias("path"))
    )
    for i in range(1, _RW_STEPS + 1):
        h = hash32(
            F.concat(
                F.col("start"),
                F.lit(":"),
                F.col("w").cast("string"),
                F.lit(f":{i}:"),
                F.col("cur"),
            )
        )
        nxt = F.element_at(
            F.col("arr"), (h % F.size("arr")).cast("int") + 1
        )
        cur = (
            cur.join(nbrs, cur["cur"] == nbrs["src"])
            .select(
                "start",
                "w",
                nxt.alias("cur"),
                F.concat(F.col("path"), F.lit(">"), nxt).alias("path"),
            )
        )
    return cur.select(
        "start", F.col("w").cast("long").alias("walk"), "path"
    ).orderBy("start", "walk")


# the walk corpus oracle doubles as the skip-gram oracle's input CTE
from mqtt2clickhouse_spark.queries.base import QUERIES as _Q  # noqa: E402

_RW_ORACLE = _Q["graph_random_walks"].oracle
#: skip-gram context window (positions either side) and readout size
_SG_WINDOW = 2
_SG_TOPK = 20


@register(
    "skipgram_pairs",
    oracle=f"""
    WITH walks AS ({_RW_ORACLE}),
    lst AS (
        SELECT start || ':' || CAST(walk AS VARCHAR) AS wid,
               string_split(path, '>') AS l
        FROM walks),
    tok AS (
        SELECT wid, unnest(l) AS node,
               CAST(unnest(range(1, len(l) + 1)) AS BIGINT) AS pos
        FROM lst),
    pairs AS (
        SELECT a.node AS center, b.node AS context,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM tok a JOIN tok b
          ON a.wid = b.wid AND a.pos <> b.pos
         AND abs(a.pos - b.pos) <= {_SG_WINDOW}
        GROUP BY 1, 2)
    SELECT center, context, n_pairs
    FROM pairs ORDER BY n_pairs DESC, center, context LIMIT {_SG_TOPK}
    """,
    description=f"Skip-gram training-pair extraction from the "
    f"random-walk corpus (window {_SG_WINDOW} either side): every "
    "(center, context) node pair within the window of every walk, "
    f"counted, top-{_SG_TOPK} by frequency — the step that turns "
    "DeepWalk's walk corpus into the positive examples a skipgram "
    "embedding model trains on (negative_sampling supplies the "
    "negatives; together they assemble the full contrastive training "
    "set from a graph).",
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumes the SAME deterministic corpus as graph_random_walks
    (one construction, two attested queries).  r15 optimization (guide
    §2.4/§3): the window pairing used to run as a positional SELF-JOIN
    of the exploded token table keyed on walk id — two corpus-sized
    shuffles plus the join — but a skip-gram window never leaves its
    own row, so the (center, context) expansion is pure map-side array
    work: per walk, every position pairs with the ≤ 2·window positions
    around it via nested HOF transforms (the basket_pairs idiom), then
    ONE partial-aggregable count shuffle.  Identical pair multiset —
    the join predicate (same wid, pos ≠ pos_b, |Δpos| ≤ window) is
    exactly the per-row index filter.  The readout stays a distributed
    top-k (TakeOrderedAndProject), not a global sort."""
    walks = graph_random_walks(spark, sf_dir)
    w = _SG_WINDOW
    expand = (
        "flatten(transform(tk, (x, i) -> "
        f"transform(filter(sequence(greatest(i - {w}, 0), "
        f"least(i + {w}, size(tk) - 1)), j -> j != i), "
        "j -> struct(x AS center, element_at(tk, j + 1) AS context))))"
    )
    pairs = (
        walks.select(F.split("path", ">").alias("tk"))
        .select(F.explode(F.expr(expand)).alias("p"))
        .groupBy(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return pairs.orderBy(
        F.desc("n_pairs"), "center", "context"
    ).limit(_SG_TOPK)
