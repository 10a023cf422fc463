"""Training-data pipeline query surface: PII redaction, deterministic
stratified sampling, sequence packing, benchmark decontamination,
canonical-doc selection — plus unpivot and correlated-EXISTS coverage.

All oracles are exact (same md5 arithmetic / RE2-safe regexes as the
Spark side), so every query here is hash-checked by the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mqtt2clickhouse_spark.ops import curation as cu
from mqtt2clickhouse_spark.ops import text as tx
from mqtt2clickhouse_spark.queries.base import register, t
from mqtt2clickhouse_spark.queries.dedup_queries import _DUCK_HASH32, _DUCK_SHINGLES
from mqtt2clickhouse_spark.tables import fan_out


@register(
    "pii_redact",
    oracle=f"""
    WITH logs AS (
        SELECT event_id,
               'user ' || user_id || ' <u' || user_id || '@example.com> tel +1-555-'
                   || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
                   || ' did ' || event_type AS line
        FROM events WHERE event_id < 500),
    r AS (
        SELECT event_id, line,
               len(regexp_extract_all(line, '{cu.EMAIL_RE}'))::BIGINT AS n_emails,
               regexp_replace(line, '{cu.EMAIL_RE}', '[EMAIL]', 'g') AS r1
        FROM logs)
    SELECT event_id,
           regexp_replace(r1, '{cu.PHONE_RE}', '[PHONE]', 'g') AS redacted,
           n_emails,
           len(regexp_extract_all(r1, '{cu.PHONE_RE}'))::BIGINT AS n_phones
    FROM r
    """,
    description="PII redaction: email/phone scrub with audit counts over "
    "synthesized event log lines (map-only regex, RE2-compatible)",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    line = F.concat(
        F.lit("user "), F.col("user_id").cast("string"),
        F.lit(" <u"), F.col("user_id").cast("string"),
        F.lit("@example.com> tel +1-555-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
        F.lit(" did "), F.col("event_type"),
    )
    red = cu.redact_pii(line)
    return events.select(
        "event_id",
        red["redacted"].alias("redacted"),
        red["n_emails"].alias("n_emails"),
        red["n_phones"].alias("n_phones"),
    )


@register(
    "stratified_sample",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang,
               {_DUCK_HASH32.format(x="CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
        FROM documents)
    SELECT doc_id, lang, bucket
    FROM b
    WHERE bucket < CASE WHEN lang = 'en' THEN 100 ELSE 500 END
    """,
    description="Deterministic stratified downsampling: md5-hash bucket per doc, "
    "10% of dominant 'en', 50% elsewhere — repartition-stable, unlike rand()",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return cu.stratified_sample(
        docs, "doc_id", "lang", rates_mille={"en": 100}, default_mille=500
    ).select("doc_id", "lang", "bucket")


@register(
    "pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''))::BIGINT
                   AS n_tokens
        FROM documents),
    packed AS (
        SELECT lang, n_tokens,
               CAST(floor(coalesce(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
                   AS BIGINT) AS bin
        FROM toks)
    SELECT lang, bin, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY lang, bin
    """,
    description="Concat-and-chunk sequence packing into 2048-token bins per "
    "language shard (windowed running total; shards pack independently)",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB packing is always per-shard (here: per language) — the
    window shuffles on the shard key only; no global ordering exists
    anywhere in the plan."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", tx.token_count(F.col("text")).alias("n_tokens")
    )
    packed = cu.pack_greedy(toks, "lang", "doc_id", "n_tokens", budget=2048)
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


@register(
    "decontaminate",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 20 = 0),
    train AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 20 <> 0)
    SELECT train.doc_id, count(DISTINCT train.shingle)::BIGINT AS n_shared
    FROM train JOIN bench USING (shingle)
    GROUP BY train.doc_id
    """,
    description="Benchmark decontamination: train docs sharing any word-3gram "
    "with the (broadcast) eval set, with shared-shingle counts",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2clickhouse_spark.ops.dedup import shingle_store

    docs = t(spark, sf_dir, "documents")
    # both sides are disjoint slices of the materialized shingle store
    # (cheap columnar re-scan per side — no pin needed, and no shingle
    # UDF runs at query time)
    shingled = shingle_store(docs, sf_dir)
    bench = shingled.filter(F.col("id") % 20 == 0)
    train = shingled.filter(F.col("id") % 20 != 0)
    return (
        cu.contaminated_docs(train, bench)
        .select(F.col("id").alias("doc_id"), F.col("n_shared"))
    )


@register(
    "dedup_canonical",
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               round(least(1.0, len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                                x -> x <> '')) / 100.0)
                     * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        / nullif(length(text), 0)), 4) AS quality_score,
               CAST(list_sum(list_transform(range(1, 5), i ->
                   (strpos('0123456789abcdef',
                           substring(md5(regexp_replace(lower(text), '\\s+', ' ', 'g')), i, 1)) - 1)
                   * (16 ** (4 - i)))) AS BIGINT) AS sh_bucket
        FROM documents),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY sh_bucket) AS n_members,
               row_number() OVER (PARTITION BY sh_bucket
                                  ORDER BY quality_score DESC, doc_id) AS rn
        FROM sh)
    SELECT sh_bucket, doc_id AS canonical_doc_id,
           CAST(n_members AS BIGINT) AS n_members, quality_score
    FROM sized WHERE rn = 1 AND n_members > 1
    """,
    description="Canonical-doc selection per near-dup bucket (16-bit fingerprint "
    "prefix): keep the highest-quality member, ties to lowest id",
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group canonicalization without the CC iteration: bucket
    docs by a 16-bit fingerprint prefix (map-only), then one window per
    bucket picks the highest-quality survivor.  The same selection logic
    applies unchanged on dedup_components' cluster ids when transitive
    grouping is needed."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    feats = tx.quality_features(F.col("text"))
    bucket = F.conv(F.substring(tx.fingerprint(F.col("text")), 1, 4), 16, 10).cast(
        "long"
    )
    sh = docs.select(
        "doc_id",
        feats["quality_score"].alias("quality_score"),
        bucket.alias("sh_bucket"),
    )
    wc = W.partitionBy("sh_bucket")
    wr = wc.orderBy(F.col("quality_score").desc(), "doc_id")
    return (
        sh.withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn("rn", F.row_number().over(wr))
        .filter((F.col("rn") == 1) & (F.col("n_members") > 1))
        .select(
            "sh_bucket",
            F.col("doc_id").alias("canonical_doc_id"),
            "n_members",
            "quality_score",
        )
    )


@register(
    "unpivot_wide",
    oracle="""
    WITH long AS (
        SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
    SELECT l_returnflag, measure,
           count(*) AS n, round(avg(val), 4) AS avg_val
    FROM long GROUP BY l_returnflag, measure
    """,
    description="Unpivot (melt) four lineitem measures to long form + aggregate "
    "(the inverse of pivot_table)",
)
def unpivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("val"), 4).alias("avg_val")
    )


@register(
    "exists_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    description="Correlated EXISTS / NOT EXISTS (planned as left-semi + "
    "left-anti joins)",
)
def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Written in the DataFrame API as the semi/anti joins Catalyst
    decorrelates EXISTS into — the join keys shuffle-partition both
    sides; no per-row subquery execution exists at any scale."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    fstat = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .join(fstat, cust.c_custkey == fstat.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


from mqtt2clickhouse_spark.ops import similarity as _sim  # noqa: E402


#: 32-bit md5 hash of {x} — the one canonical DuckDB twin of
#: ops.dedup.hash32 (imported at module top; do not re-copy)
_HASH32 = _DUCK_HASH32
_SRP_BITS, _SRP_BANDS, _SRP_W = 60, 6, 10


#: Shared SRP signature → banding → candidate-pair CTE chain (no WITH
#: keyword, no trailing comma) — the exact integer replay of
#: ops.similarity.srp_signature + srp_candidate_pairs, reused by
#: dedup_embedding_srp and srp_recall.
_SRP_CAND_CTES = f"""
    w AS (
        SELECT k, j,
               CASE WHEN {_HASH32.format(x="CAST(k AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} % 2 = 0
                    THEN 1 ELSE -1 END AS wt
        FROM range({_SRP_BITS}) t1(k), range(64) t2(j)),
    q AS (
        SELECT vec_id, j,
               CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
        FROM embeddings, range(64) t(j)),
    dots AS (
        SELECT vec_id, k, sum(qv * wt) AS d
        FROM q JOIN w USING (j) GROUP BY vec_id, k),
    sigs AS (
        SELECT vec_id,
               sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS sig
        FROM dots GROUP BY vec_id),
    banded AS (
        SELECT vec_id, b AS band_id,
               (sig >> (b * {_SRP_W})) & {(1 << _SRP_W) - 1} AS band_sig
        FROM sigs, range({_SRP_BANDS}) t(b)),
    bsize AS (SELECT band_id, band_sig, count(*) AS n FROM banded GROUP BY 1, 2),
    kept AS (SELECT banded.vec_id, banded.band_id, banded.band_sig
             FROM banded JOIN bsize USING (band_id, band_sig) WHERE bsize.n <= 64),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM kept a JOIN kept b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.vec_id < b.vec_id)"""


@register(
    "dedup_embedding_srp",
    oracle=f"""
    WITH {_SRP_CAND_CTES},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT id_a, id_b,
           round(list_cosine_similarity(ea.v, eb.v), 4) AS sim
    FROM cand
    JOIN e ea ON ea.vec_id = id_a
    JOIN e eb ON eb.vec_id = id_b
    WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.3
    """,
    description="Embedding near-dup via signed-random-projection LSH: 60-bit "
    "integer-quantized signatures, 6x10-bit bands, exact cosine verify on "
    "candidates only (the sub-quadratic scale path past the block GEMM)",
)
def dedup_embedding_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-then-verify: every arithmetic step (md5-parity hyperplanes,
    integer-quantized dots, band slicing) is integer-exact, so the
    DuckDB oracle reproduces the candidate set bit-for-bit.  Threshold
    0.3 keeps the fixture's weakly-similar planted pairs observable;
    production near-dup (cos >= 0.9) is the geometry's design point —
    see srp_candidate_pairs' docstring for the recall arithmetic."""
    emb = t(spark, sf_dir, "embeddings")
    return _sim.srp_near_dup_pairs(
        emb, threshold=0.3, bits=_SRP_BITS, bands=_SRP_BANDS
    )


#: srp_recall: predicted per-pair collision probability of the banding —
#: p = 1 - acos(sim)/π is the per-bit agreement probability for random
#: hyperplanes; a pair survives iff some band of _SRP_W bits fully
#: agrees: pred = 1 - (1 - p^w)^bands
_SRP_PRED = (
    f"1 - pow(1 - pow(1 - acos(least(sim, 1.0)) / pi(), {_SRP_W}), {_SRP_BANDS})"
)
_SRP_BAND_CASE = """CASE WHEN sim >= 0.9 THEN '0.9+'
                    WHEN sim >= 0.7 THEN '0.7-0.9'
                    WHEN sim >= 0.5 THEN '0.5-0.7'
                    ELSE '0.3-0.5' END"""


@register(
    "srp_recall",
    oracle=f"""
    WITH {_SRP_CAND_CTES},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    tru AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 4) AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3),
    h AS (
        SELECT {_SRP_BAND_CASE} AS band,
               {_SRP_PRED} AS pred,
               CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM tru t LEFT JOIN cand c USING (id_a, id_b))
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           round(sum(hit) / count(*), 4) AS recall,
           round(avg(pred), 4) AS pred_recall
    FROM h GROUP BY band
    """,
    description="SRP banding recall calibration: per similarity band, the "
    "measured recall of the 60-bit/6-band LSH candidates against exact "
    "ground truth (blocked GEMM, cosine >= 0.3) NEXT TO the geometry's "
    "predicted recall 1-(1-p^w)^b — the measured-vs-theory loop-closer "
    "for srp_candidate_pairs' design-point claims",
)
def srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground truth comes from ``cosine_pairs_blocked`` (exact,
    distributed block-pair GEMM — no driver materialization); candidates
    from ``srp_signature`` + ``srp_candidate_pairs`` (integer-exact, so
    the oracle replays every bit).  Each true pair left-joins the
    candidate set (hit flag), then one tiny aggregate per similarity
    band compares measured recall against the random-hyperplane
    prediction p = 1 - acos(sim)/π folded through the banding
    (1-(1-p^w)^b).  The fixture's planted pairs live in the weak-sim
    bands, so this query documents honestly that the default geometry is
    tuned for cos >= 0.9 near-dup, not weak similarity — with numbers on
    both sides of the claim.  At 100 TB the cost is the GEMM's O(N²·d)
    FLOPs, which is exactly what the banding exists to escape; run it on
    a sample there."""
    import math

    emb = t(spark, sf_dir, "embeddings")
    tru = _sim.cosine_pairs_blocked(emb, threshold=0.3)
    cand = _sim.srp_candidate_pairs(
        _sim.srp_signature(emb, bits=_SRP_BITS), bits=_SRP_BITS, bands=_SRP_BANDS
    ).withColumn("hit", F.lit(1))
    p_bit = 1 - F.acos(F.least(F.col("sim"), F.lit(1.0))) / F.lit(math.pi)
    pred = 1 - F.pow(1 - F.pow(p_bit, F.lit(_SRP_W)), F.lit(_SRP_BANDS))
    band = (
        F.when(F.col("sim") >= 0.9, "0.9+")
        .when(F.col("sim") >= 0.7, "0.7-0.9")
        .when(F.col("sim") >= 0.5, "0.5-0.7")
        .otherwise("0.3-0.5")
    )
    return (
        tru.join(cand, ["id_a", "id_b"], "left")
        .select(
            band.alias("band"),
            pred.alias("pred"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum("hit").cast("long").alias("n_hit"),
            F.round(F.sum("hit") / F.count(F.lit(1)), 4).alias("recall"),
            F.round(F.avg("pred"), 4).alias("pred_recall"),
        )
    )


def _duck_ann_kmeans() -> str:
    """The full k-means-IVF pipeline as DuckDB CTEs: the two Lloyd
    rounds reuse the exact construction already proven by the
    ``semantic_dedup`` oracle (same init, rounding, and tie rules as
    ``ops.similarity.kmeans_pivots``), then cell assignment, nprobe=4
    query probing, and top-5 ranking mirror ``ivf_topk``."""
    from mqtt2clickhouse_spark.queries.embedding_queries import _duck_lloyd_round

    return (
        """
    WITH p0 AS (
        SELECT vec_id AS pivot_id, CAST(embedding AS DOUBLE[]) AS pv
        FROM embeddings ORDER BY vec_id LIMIT 16),"""
        + ",".join(_duck_lloyd_round(f"p{i - 1}", i) for i in (1, 2))
        + """,
    cells AS (
        SELECT vid, cv, cell FROM (
            SELECT e.vec_id AS vid, CAST(e.embedding AS DOUBLE[]) AS cv,
                   p.pivot_id AS cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    CAST(e.embedding AS DOUBLE[]), p.pv), 6) DESC,
                                p.pivot_id) AS prank
            FROM embeddings e CROSS JOIN p2 p) s
        WHERE prank = 1),
    qcells AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
                   p.pivot_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    CAST(q.embedding AS DOUBLE[]), p.pv), 6) DESC,
                                p.pivot_id) AS prank
            FROM embeddings q CROSS JOIN p2 p
            WHERE q.vec_id < 8) s
        WHERE prank <= 4),
    scored AS (
        SELECT qc.query_id, c.vid AS neighbor_id,
               round(list_cosine_similarity(qc.qv, c.cv), 4) AS sim
        FROM qcells qc JOIN cells c ON qc.cell = c.cell
        WHERE qc.query_id <> c.vid),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
    """
    )


@register(
    "similarity_ann_kmeans",
    oracle=_duck_ann_kmeans(),
    description="IVF ANN over k-means-refined pivots (2 deterministic Lloyd "
    "rounds): the production coarse quantizer; fully oracle-replayed — the "
    "deterministic Lloyd rounds are the same CTE construction the "
    "semantic_dedup oracle uses",
)
def similarity_ann_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # trained quantizer is shared index state (train-once/probe-many):
    # materialized once per Spark session, same policy as the graph
    # edge view
    pivots = _sim.kmeans_pivots_cached(emb, sf_dir, k=16, iters=2)
    return _sim.ivf_topk(emb, queries, n_pivots=16, nprobe=4, k=5, pivots=pivots)


#: k_anonymity: group-size threshold below which a QI group is a risk
_KA_K = 5


@register(
    "k_anonymity",
    oracle=f"""
    WITH fine AS (
        SELECT CAST(count(*) AS BIGINT) AS sz
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, strftime(date_trunc('month', o.o_orderdate),
                                    '%Y-%m'), o.o_orderpriority),
    coarse AS (
        SELECT CAST(count(*) AS BIGINT) AS sz
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, strftime(date_trunc('month', o.o_orderdate),
                                    '%Y-%m')),
    s AS (
        SELECT 'nation_month_priority' AS qi_set,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(sz) AS BIGINT) AS k_min,
               CAST(sum(CASE WHEN sz < {_KA_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating_groups,
               CAST(sum(CASE WHEN sz < {_KA_K} THEN sz ELSE 0 END)
                    AS BIGINT) AS rows_at_risk
        FROM fine
        UNION ALL
        SELECT 'nation_month',
               CAST(count(*) AS BIGINT),
               CAST(min(sz) AS BIGINT),
               CAST(sum(CASE WHEN sz < {_KA_K} THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN sz < {_KA_K} THEN sz ELSE 0 END) AS BIGINT)
        FROM coarse)
    SELECT * FROM s
    """,
    description=f"k-anonymity audit (k={_KA_K}): group sizes under two "
    "quasi-identifier sets over orders (customer nation + order month, "
    "with and without order priority) — minimum group size, violating "
    "group count, and rows at re-identification risk, showing how "
    "generalizing the QI raises k.  The release-gate companion to "
    "pii_redact's content scrub.",
)
def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure aggregate pipeline: each QI definition is one
    partial-combining groupBy whose output is group-count-sized, and
    the audit summary is a second 1-row aggregate over it — nothing
    scales with the row count past the first combine, so the audit
    costs the same as a count(*) per QI set at any table size.  The
    nation dim broadcasts onto customer; customer broadcasts onto
    orders at fixture scale (at 100 TB that join shuffles on the
    customer key — the audit aggregates are unaffected)."""

    month = F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM")

    def summarize(sizes: DataFrame, label: str) -> DataFrame:
        viol = F.col("sz") < _KA_K
        return sizes.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.min("sz").cast("long").alias("k_min"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_groups"),
            F.sum(F.when(viol, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
        ).select(F.lit(label).alias("qi_set"), "*")

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    fine_sizes = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name"), month.alias("m"), F.col("o_orderpriority"))
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .localCheckpoint(eager=False)  # two consumers: fine + coarse rollup
    )
    # priority refines the coarse key, so the coarse sizes are a pure
    # rollup of the fine ones — ONE scan+join serves both QI sets
    coarse_sizes = fine_sizes.groupBy("n_name", "m").agg(
        F.sum("sz").cast("long").alias("sz")
    )
    return summarize(fine_sizes, "nation_month_priority").unionAll(
        summarize(coarse_sizes, "nation_month")
    )


#: temperature mixing geometry: τ=0.5 (sqrt damping, the multilingual-
#: pretraining standard), a 2000-doc budget, and a 1e6 hash modulus for
#: the integer sampling predicate.
_MIX_TAU_SCALE = 1_000_000  # sqrt(n) fixed-point scale
_MIX_BUDGET = 2000
_MIX_MOD = 1_000_000


@register(
    "mixture_temperature",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(round(sqrt(CAST(count(*) AS DOUBLE))
                          * {_MIX_TAU_SCALE}) AS BIGINT) AS sqi
        FROM documents GROUP BY 1),
    denom AS (SELECT CAST(sum(sqi) AS BIGINT) AS d FROM counts),
    rates AS (
        SELECT source, n_docs, sqi,
               CAST(floor(least(1.0,
                    {_MIX_BUDGET} * CAST(sqi AS DOUBLE)
                        / (CAST(d AS DOUBLE) * n_docs))
                    * {_MIX_MOD}) AS BIGINT) AS thr,
               round(CAST(sqi AS DOUBLE) / d, 6) AS weight
        FROM counts CROSS JOIN denom),
    sampled AS (
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled
        FROM documents d JOIN rates r USING (source)
        WHERE {_DUCK_HASH32.format(x="CAST(doc_id AS VARCHAR)")}
                  % {_MIX_MOD} < r.thr
        GROUP BY 1)
    SELECT r.source, r.n_docs, r.weight, r.thr,
           coalesce(s.n_sampled, 0) AS n_sampled,
           round(CAST(coalesce(s.n_sampled, 0) AS DOUBLE) / r.n_docs, 4)
               AS eff_rate
    FROM rates r LEFT JOIN sampled s USING (source)
    """,
    description=f"Temperature-scaled source mixing (τ=0.5, budget "
    f"{_MIX_BUDGET}): per-source sampling weights ∝ n^τ — upweighting "
    "small sources relative to proportional sampling — realized as a "
    "deterministic per-source hash-sampling rate plus the achieved "
    "sample counts; the data-mixing step multilingual/multi-domain "
    "pretraining corpora are built with.",
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactness: sqrt(n) is fixed-pointed to an integer (×1e6) per
    source, the normalizing denominator is an exact integer SUM of
    those, and the sampling predicate compares hash residues against an
    integer threshold — so sample membership is bit-identical across
    engines and partitionings; the only floats are final reported
    ratios of exact integers.  Scale: counts/rates live on a per-source
    dimension table (broadcast onto the corpus for the sampling pass —
    sources are a dimension by construction); the corpus is touched
    exactly twice (count, sample), both embarrassingly parallel."""
    from mqtt2clickhouse_spark.ops.dedup import hash32

    docs = fan_out(t(spark, sf_dir, "documents"))
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).withColumn(
        "sqi",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * _MIX_TAU_SCALE)
        .cast("long"),
    )
    denom = counts.agg(F.sum("sqi").cast("long").alias("d"))
    rate = F.least(
        F.lit(1.0),
        _MIX_BUDGET
        * F.col("sqi").cast("double")
        / (F.col("d").cast("double") * F.col("n_docs")),
    )
    rates = counts.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        "sqi",
        F.floor(rate * _MIX_MOD).cast("long").alias("thr"),
        F.round(F.col("sqi").cast("double") / F.col("d"), 6).alias("weight"),
    )
    sampled = (
        docs.join(F.broadcast(rates.select("source", "thr")), "source")
        .filter(
            hash32(F.col("doc_id").cast("string")) % _MIX_MOD < F.col("thr")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )
    return (
        rates.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "weight",
            "thr",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.round(
                F.coalesce("n_sampled", F.lit(0)).cast("double")
                / F.col("n_docs"),
                4,
            ).alias("eff_rate"),
        )
    )


@register(
    "l_diversity",
    oracle="""
    WITH g AS (
        SELECT n.n_name,
               strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS m,
               CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l,
               CAST(count(*) AS BIGINT) AS sz
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2)
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(sz) AS BIGINT) AS n_rows
    FROM g GROUP BY 1
    """,
    description="l-diversity audit (k_anonymity's companion): for the "
    "(customer nation, order month) quasi-identifier, how many distinct "
    "values of the sensitive attribute (order priority) each group "
    "holds — the diversity histogram that catches groups which are "
    "k-anonymous yet still leak the sensitive value because everyone "
    "in them shares it (homogeneity attack).",
)
def l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two partial-combining aggregates: QI-group (l, size) first —
    count_distinct over a 5-value attribute partial-aggregates cleanly
    — then the l-histogram over group-count-sized data.  Same
    broadcast-dim shape as k_anonymity; nothing scales past the first
    combine."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    g = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
            ).alias("m"),
        )
        .agg(
            F.count_distinct("o_orderpriority").cast("long").alias("l"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
    )
    return g.groupBy("l").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("sz").cast("long").alias("n_rows"),
    )


def _duck_silhouette() -> str:
    """Centroid-silhouette oracle: the same 2 Lloyd rounds as the
    ann_kmeans/semantic_dedup oracles, then per-vector best and
    second-best centroid distances."""
    from mqtt2clickhouse_spark.queries.embedding_queries import _duck_lloyd_round

    return (
        """
    WITH p0 AS (
        SELECT vec_id AS pivot_id, CAST(embedding AS DOUBLE[]) AS pv
        FROM embeddings ORDER BY vec_id LIMIT 16),"""
        + ",".join(_duck_lloyd_round(f"p{i - 1}", i) for i in (1, 2))
        + """,
    scored AS (
        SELECT e.vec_id AS vid, p.pivot_id,
               1 - round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), p.pv), 6) AS d,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                                CAST(e.embedding AS DOUBLE[]), p.pv), 6) DESC,
                            p.pivot_id) AS rn
        FROM embeddings e CROSS JOIN p2 p),
    pt AS (
        SELECT vid,
               min(CASE WHEN rn = 1 THEN pivot_id END) AS cell,
               min(CASE WHEN rn = 1 THEN d END) AS d1,
               min(CASE WHEN rn = 2 THEN d END) AS d2
        FROM scored GROUP BY 1),
    sil AS (
        SELECT cell,
               CASE WHEN greatest(d1, d2) = 0 THEN 0.0
                    ELSE (d2 - d1) / greatest(d1, d2) END AS s
        FROM pt)
    SELECT cell, CAST(count(*) AS BIGINT) AS n,
           round(avg(s), 4) AS mean_silhouette
    FROM sil GROUP BY 1 ORDER BY 1
    """
    )


@register(
    "kmeans_silhouette",
    oracle=_duck_silhouette(),
    description="Per-cell centroid silhouette of the shared 16-cell "
    "k-means clustering (cosine distance; s = (b-a)/max(a,b) with a = "
    "own-centroid distance, b = nearest-other-centroid distance).  The "
    "clustering-quality audit for the IVF/semantic-dedup cell "
    "structure: cells near 0 are boundary-smeared, negative cells are "
    "misassigned.  Centroid form, not pairwise — O(N*k), the only "
    "silhouette that scales.",
)
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same deterministic Lloyd pivots as similarity_ann_kmeans (2
    rounds, k=16 — driver state is the 16 x d centroid matrix only),
    then ONE broadcast score pass over the corpus: the per-vector rank
    window partitions by vec_id (never a global sort), and only the
    16-row per-cell aggregate leaves the shuffle.  a/b come from rank
    1/2 of the same 16 scores — the second-nearest centroid IS the
    min over other centroids."""
    from mqtt2clickhouse_spark.ops import similarity as _sim
    from mqtt2clickhouse_spark.ops.similarity import as_double, cosine
    from mqtt2clickhouse_spark.tables import fan_out

    emb = t(spark, sf_dir, "embeddings")
    # same shared trained-quantizer materialization similarity_ann_kmeans
    # reads — the silhouette scores the index the probes actually use
    pivots = _sim.kmeans_pivots_cached(emb, sf_dir, k=16, iters=2).select(
        F.col("pivot_id"), F.col("pv")
    )
    c = fan_out(
        emb.select(F.col("vec_id").alias("vid"), as_double(F.col("embedding")).alias("cv"))
    )
    scored = c.join(F.broadcast(pivots)).select(
        "vid",
        "pivot_id",
        (1 - F.round(cosine(F.col("cv"), F.col("pv")), 6)).alias("d"),
    )
    rn = F.row_number().over(
        W.partitionBy("vid").orderBy("d", "pivot_id")
    )
    pt = (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 2)
        .groupBy("vid")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("pivot_id"))).alias("cell"),
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
    )
    s = F.when(F.greatest("d1", "d2") == 0, F.lit(0.0)).otherwise(
        (F.col("d2") - F.col("d1")) / F.greatest("d1", "d2")
    )
    return (
        pt.select("cell", s.alias("s"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("s"), 4).alias("mean_silhouette"),
        )
        .orderBy("cell")
    )


# -- group-aware k-fold assignment ----------------------------------------
#: the training-data split that respects GROUPS: all events of a user
#: must land in one fold, or per-user signal leaks across
#: train/validation (the classic CV leakage bug).  The audit runs both
#: policies side by side: row-keyed hashing scatters nearly every
#: multi-event user across folds; group-keyed hashing provably leaks
#: zero.
_GKF_K = 5
_GKF_SEED = "gkf1"


@register(
    "group_kfold",
    oracle=f"""
    WITH modes AS (
        SELECT 'row' AS split_mode, user_id,
               {_DUCK_HASH32.format(x=f"'{_GKF_SEED}:' || CAST(event_id AS VARCHAR)")} % {_GKF_K} AS fold
        FROM events
        UNION ALL
        SELECT 'group', user_id,
               {_DUCK_HASH32.format(x=f"'{_GKF_SEED}:' || CAST(user_id AS VARCHAR)")} % {_GKF_K}
        FROM events),
    per_fold AS (
        SELECT split_mode, fold, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM modes GROUP BY 1, 2),
    leaky AS (
        SELECT split_mode, CAST(count(*) AS BIGINT) AS leaky_users
        FROM (SELECT split_mode, user_id FROM modes
              GROUP BY 1, 2 HAVING count(DISTINCT fold) > 1) s
        GROUP BY 1)
    SELECT p.split_mode, p.fold, p.n_rows, p.n_users,
           COALESCE(l.leaky_users, 0) AS mode_leaky_users
    FROM per_fold p LEFT JOIN leaky l ON l.split_mode = p.split_mode
    ORDER BY 1, 2
    """,
    description=f"Group-aware {_GKF_K}-fold split audit: rows hashed by "
    "event_id scatter nearly every multi-event user across folds "
    "(cross-validation leakage), rows hashed by user_id leak exactly "
    "zero — both policies' fold sizes and the per-mode count of "
    "fold-spanning users, side by side.  The split every per-user "
    "model evaluation needs, stated as a measured contrast.",
)
def group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unioned projection (corpus touched once per mode, map-only),
    one partial-aggregable rollup per (mode, fold), and the leakage
    check is a per-(mode, user) distinct-fold aggregate — everything
    shuffles on small keys; nothing is quadratic.  The hash split is
    content-independent and partition-invariant (the hash_split
    idiom), so fold assignment survives re-runs and engine changes."""
    from mqtt2clickhouse_spark.ops.dedup import hash32

    ev = t(spark, sf_dir, "events").select("event_id", "user_id")
    row_mode = ev.select(
        F.lit("row").alias("split_mode"),
        "user_id",
        (
            hash32(
                F.concat_ws(
                    ":", F.lit(_GKF_SEED), F.col("event_id").cast("string")
                )
            )
            % _GKF_K
        ).alias("fold"),
    )
    grp_mode = ev.select(
        F.lit("group").alias("split_mode"),
        "user_id",
        (
            hash32(
                F.concat_ws(
                    ":", F.lit(_GKF_SEED), F.col("user_id").cast("string")
                )
            )
            % _GKF_K
        ).alias("fold"),
    )
    modes = row_mode.unionAll(grp_mode)
    per_fold = modes.groupBy("split_mode", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )
    leaky = (
        modes.groupBy("split_mode", "user_id")
        .agg(F.count_distinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .groupBy("split_mode")
        .agg(F.count(F.lit(1)).cast("long").alias("leaky_users"))
    )
    return (
        per_fold.join(F.broadcast(leaky), "split_mode", "left")
        .select(
            "split_mode",
            "fold",
            "n_rows",
            "n_users",
            F.coalesce(F.col("leaky_users"), F.lit(0).cast("long")).alias(
                "mode_leaky_users"
            ),
        )
        .orderBy("split_mode", "fold")
    )


#: leakage-safe target encoding: fold count + m-estimate smoothing mass
_TE_FOLDS = 5
_TE_M = 20


@register(
    "target_encoding",
    oracle=f"""
    WITH lab AS (
        SELECT p.p_brand AS brand,
               {_DUCK_HASH32.format(
                   x="CAST(l.l_orderkey AS VARCHAR) || ':' || "
                     "CAST(l.l_linenumber AS VARCHAR)")}
                   % {_TE_FOLDS} AS fold,
               CAST(round(100 * l.l_extendedprice * (1 - l.l_discount))
                    AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    bf AS (
        SELECT brand, fold, CAST(count(*) AS BIGINT) AS n_bf,
               CAST(sum(cents) AS BIGINT) AS s_bf
        FROM lab GROUP BY 1, 2),
    tb AS (
        SELECT brand, CAST(sum(n_bf) AS BIGINT) AS n_b,
               CAST(sum(s_bf) AS BIGINT) AS s_b
        FROM bf GROUP BY 1),
    g AS (
        SELECT CAST(sum(n_bf) AS BIGINT) AS n_tot,
               CAST(sum(s_bf) AS BIGINT) AS s_tot
        FROM bf)
    SELECT bf.brand, bf.fold, bf.n_bf AS n_rows,
           round(CAST(tb.s_b AS DOUBLE) / (100.0 * tb.n_b), 4)
               AS full_mean,
           round(CAST(tb.s_b - bf.s_bf AS DOUBLE)
                 / (100.0 * (tb.n_b - bf.n_bf)), 4) AS oof_mean,
           round((CAST(tb.s_b - bf.s_bf AS DOUBLE) / 100.0
                  + {_TE_M} * (CAST(g.s_tot AS DOUBLE) / (100.0 * g.n_tot)))
                 / CAST(tb.n_b - bf.n_bf + {_TE_M} AS DOUBLE), 4)
               AS enc_smoothed
    FROM bf JOIN tb ON bf.brand = tb.brand CROSS JOIN g
    ORDER BY bf.brand, bf.fold
    """,
    description=f"Leakage-safe target encoding of part brand against "
    f"lineitem revenue: {_TE_FOLDS} deterministic hash folds, each "
    "fold's encoding computed from the OTHER folds only (out-of-fold "
    f"mean) plus m-estimate smoothing toward the global prior (m = "
    f"{_TE_M}) — the standard categorical-feature construction for "
    "gradient-boosting / tabular-ML training sets, built so a fold "
    "never sees its own targets.",
)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fact-sized stage: the broadcast part join + (brand, fold)
    hash aggregate with integer-cents sums (partial-aggregated
    map-side; shuffle volume = brands x folds).  Everything after runs
    on the 125-row summary: per-brand totals are a second aggregate of
    the FIRST one (never a rescan), out-of-fold sums are total minus
    own-fold (no per-row fold loop — the subtract trick makes K-fold
    encoding O(1) passes instead of K), and the smoothed encoding is
    exact-integer arithmetic with one IEEE division per output cell.
    At 100 TB the plan is one scan + one tiny shuffle; fold count and
    smoothing mass are literals both engines share."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    from mqtt2clickhouse_spark.ops.dedup import hash32

    fold = (
        hash32(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        )
        % _TE_FOLDS
    )
    cents = F.round(
        100 * F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("long")
    lab = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        fold.alias("fold"),
        cents.alias("cents"),
    )
    bf = lab.groupBy("brand", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_bf"),
        F.sum("cents").cast("long").alias("s_bf"),
    ).localCheckpoint(eager=False)
    # ^ r16: three consumers (tb, g, the final join) each replanned the
    # fact-sized scan+join+aggregate subtree — the before-plan scanned
    # lineitem and part 3x each.  The output is brands x folds (~125
    # rows), the subtree is a full fact pass: the cheap-output/heavy-
    # upstream pin rule (NOTES, conformal/benford precedent).
    tb = bf.groupBy("brand").agg(
        F.sum("n_bf").cast("long").alias("n_b"),
        F.sum("s_bf").cast("long").alias("s_b"),
    )
    g = bf.agg(
        F.sum("n_bf").cast("long").alias("n_tot"),
        F.sum("s_bf").cast("long").alias("s_tot"),
    )
    oof_s = (F.col("s_b") - F.col("s_bf")).cast("double")
    oof_n = (F.col("n_b") - F.col("n_bf"))
    prior = F.col("s_tot").cast("double") / (100.0 * F.col("n_tot"))
    return (
        bf.join(F.broadcast(tb), "brand")
        .crossJoin(F.broadcast(g))
        .select(
            "brand",
            "fold",
            F.col("n_bf").alias("n_rows"),
            F.round(
                F.col("s_b").cast("double") / (100.0 * F.col("n_b")), 4
            ).alias("full_mean"),
            F.round(oof_s / (100.0 * oof_n), 4).alias("oof_mean"),
            F.round(
                (oof_s / 100.0 + _TE_M * prior)
                / (oof_n + _TE_M).cast("double"),
                4,
            ).alias("enc_smoothed"),
        )
        .orderBy("brand", "fold")
    )


#: negative sampling: candidates drawn per customer
_NEG_K = 4


@register(
    "negative_sampling",
    oracle=f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    pdom AS (SELECT CAST(max(p_partkey) + 1 AS BIGINT) AS np FROM part),
    cand AS (
        SELECT c.c_custkey AS ck, i.i,
               {_DUCK_HASH32.format(
                   x="CAST(c.c_custkey AS VARCHAR) || ':' || "
                     "CAST(i.i AS VARCHAR)")} % (SELECT np FROM pdom) AS pk
        FROM customer c CROSS JOIN (SELECT unnest(range({_NEG_K})) AS i) i),
    labeled AS (
        SELECT cand.ck, cand.pk,
               CASE WHEN pos.pk IS NULL THEN 0 ELSE 1 END AS collided
        FROM cand LEFT JOIN pos
          ON cand.ck = pos.ck AND cand.pk = pos.pk),
    per_seg AS (
        SELECT c.c_mktsegment AS segment,
               CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
               CAST(count(DISTINCT lab.ck || ':' || lab.pk)
                    FILTER (WHERE lab.collided = 0) AS BIGINT) AS n_neg,
               CAST(sum(lab.collided) AS BIGINT) AS n_collisions
        FROM customer c JOIN labeled lab ON lab.ck = c.c_custkey
        GROUP BY 1),
    pos_seg AS (
        SELECT c.c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_pos
        FROM pos JOIN customer c ON pos.ck = c.c_custkey
        GROUP BY 1)
    SELECT s.segment, s.n_customers, p.n_pos, s.n_neg, s.n_collisions,
           round(CAST(s.n_neg AS DOUBLE) / p.n_pos, 4) AS neg_per_pos
    FROM per_seg s JOIN pos_seg p ON s.segment = p.segment
    ORDER BY s.segment
    """,
    description=f"Deterministic negative sampling for contrastive / "
    f"two-tower training: {_NEG_K} candidate parts per customer drawn "
    "by hashing (custkey, draw-index) into the part-key domain, with "
    "candidates that collide with TRUE purchase pairs detected and "
    "dropped via anti-join semantics — per market segment, the "
    "positive-pair count, surviving negatives, collision count, and "
    "the realized negative:positive ratio.  The dataset-assembly step "
    "between feature extraction and training that silently skews "
    "models when collisions are NOT removed.",
)
def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates are generated map-side (customers x a posexplode'd
    literal range — no RNG, no driver loop; the md5 hash is the
    reproducible sampler), validated against the positive set with ONE
    left join keyed (custkey, partkey) — the same key the positives
    aggregate shuffled on — and rolled up per segment.  The positive
    table is the only fact-sized input and it collapses to distinct
    pairs immediately; everything downstream is customers x K.  At
    100 TB: swap the max-key domain lookup for a dimension count, keep
    the join keys identical, and the plan is unchanged.  A (ck, pk)
    pre-aggregate riding the labeling join's partitioning dedups the
    (rare) duplicate candidate draws — so the negative count matches
    what a training loader would materialize — without the 3x Expand
    the old per-segment count_distincts paid (r16)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")
    part = t(spark, sf_dir, "part")
    from mqtt2clickhouse_spark.ops.dedup import hash32

    pos = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumers: labeling join + pos_seg
    )
    np_ = part.agg((F.max("p_partkey") + 1).cast("long").alias("np"))
    cand = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(np_))
        .select(
            F.col("c_custkey").alias("ck"),
            F.explode(
                F.array(*[F.lit(i) for i in range(_NEG_K)])
            ).alias("i"),
            "np",
        )
        .select(
            "ck",
            (
                hash32(
                    F.concat(
                        F.col("ck").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                )
                % F.col("np")
            ).alias("pk"),
        )
    )
    labeled = cand.join(
        pos.withColumn("hit", F.lit(1)), ["ck", "pk"], "left"
    ).select(
        "ck",
        "pk",
        F.coalesce("hit", F.lit(0)).alias("collided"),
    )
    seg = cust.select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("segment")
    ).localCheckpoint(eager=False)
    # ^ r16: three broadcast consumers (per_seg, pos_seg, n_cust) each
    # rebuilt this projection from its own customer scan
    # r16 (guide §2.2/§2.3): the old per-segment aggregate ran TWO
    # count_distincts over the customers x K candidate table, which
    # plans as a 3x Expand of every candidate row before the shuffle.
    # Equivalent without any distinct aggregate:
    #   - the distinct-(ck, pk) set IS a (ck, pk) pre-aggregate, and it
    #     rides the labeling join's existing (ck, pk) partitioning, so
    #     the dedup costs no extra exchange;  collided is constant
    #     within a (ck, pk) group (it is a function of the join key),
    #     so max() recovers it and sum(hit * cnt) recovers the
    #     per-candidate-row collision count exactly;
    #   - n_customers = count_distinct(ck) over labeled, but EVERY
    #     customer emits exactly K >= 1 candidates (cross join with the
    #     1-row domain + literal explode, left join preserves), so per
    #     segment it equals the customer-table count — a dimension
    #     aggregate, no corpus-side distinct at all.
    per_pair = labeled.groupBy("ck", "pk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("collided").alias("hit"),
    )
    n_cust = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    per_seg = (
        per_pair.join(F.broadcast(seg), "ck")
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("hit") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_neg"),
            F.sum(F.col("hit") * F.col("cnt")).cast("long").alias("n_collisions"),
        )
        .join(F.broadcast(n_cust), "segment")
    )
    pos_seg = (
        pos.join(F.broadcast(seg), "ck")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pos"))
    )
    return (
        per_seg.join(pos_seg, "segment")
        .select(
            "segment",
            "n_customers",
            "n_pos",
            "n_neg",
            "n_collisions",
            F.round(
                F.col("n_neg").cast("double") / F.col("n_pos"), 4
            ).alias("neg_per_pos"),
        )
        .orderBy("segment")
    )


@register(
    "t_closeness",
    oracle="""
    WITH base AS (
        SELECT n.n_name,
               strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS m,
               o.o_orderpriority AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey),
    gv AS (
        SELECT n_name, m, v, CAST(count(*) AS BIGINT) AS c_gv
        FROM base GROUP BY 1, 2, 3),
    gsz AS (
        SELECT n_name, m, CAST(sum(c_gv) AS BIGINT) AS n_g
        FROM gv GROUP BY 1, 2),
    gdist AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c_v FROM base GROUP BY 1),
    n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    dense AS (
        SELECT g.n_name, g.m, g.n_g, gl.v, gl.c_v,
               CAST(coalesce(gv.c_gv, 0) AS BIGINT) AS c_gv
        FROM gsz g CROSS JOIN gdist gl
        LEFT JOIN gv ON gv.n_name = g.n_name AND gv.m = g.m
                    AND gv.v = gl.v),
    per_group AS (
        SELECT n_name, m, n_g,
               CAST(sum(abs(c_gv * (SELECT n FROM n_tot)
                            - c_v * n_g)) AS BIGINT) AS tq
        FROM dense GROUP BY 1, 2, 3)
    SELECT CAST((10 * tq) // (2 * n_g * (SELECT n FROM n_tot))
                AS BIGINT) AS t_band,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_g) AS BIGINT) AS n_rows,
           round(max(CAST(tq AS DOUBLE)
                     / (2.0 * n_g * (SELECT n FROM n_tot))), 4) AS max_t
    FROM per_group GROUP BY 1 ORDER BY 1
    """,
    description="t-closeness audit completing the k-anonymity / "
    "l-diversity privacy triad: per (customer nation, order month) "
    "quasi-identifier group, the variational distance between the "
    "group's sensitive-attribute (order priority) distribution and the "
    "global one, histogrammed into t-bands — groups in high bands leak "
    "the sensitive value by skew even when they are k-anonymous and "
    "l-diverse.  Distances are exact: |c_gv*N - C_v*n_g| integer "
    "numerators summed per group, banded by integer floor-division, "
    "so no float ever decides a band.",
)
def t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join/aggregate skeleton as l_diversity (shared QI), plus
    the densified group x sensitive-value grid (absent values MUST
    contribute |0 - C_v*n_g| — the chi2_independence lesson) built by
    cross-joining the 5-value global table.  Everything partial-
    aggregates; the grid is groups x 5 rows; the band histogram is a
    final small rollup.  t = tq / (2*n_g*N) appears as a float only in
    the reporting column."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
            ).alias("m"),
            F.col("o_orderpriority").alias("v"),
        )
    )
    gv = base.groupBy("n_name", "m", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c_gv")
    ).localCheckpoint(eager=False)  # consumers: gsz, glob, dense join
    gsz = gv.groupBy("n_name", "m").agg(
        F.sum("c_gv").cast("long").alias("n_g")
    )
    glob = gv.groupBy("v").agg(F.sum("c_gv").cast("long").alias("c_v"))
    ntot = gv.agg(F.sum("c_gv").cast("long").alias("n"))
    dense = (
        gsz.crossJoin(F.broadcast(glob))
        .join(gv, ["n_name", "m", "v"], "left")
        .select(
            "n_name",
            "m",
            "n_g",
            "c_v",
            F.coalesce("c_gv", F.lit(0)).cast("long").alias("c_gv"),
        )
    )
    per_group = (
        dense.crossJoin(F.broadcast(ntot))
        .groupBy("n_name", "m", "n_g", "n")
        .agg(
            F.sum(
                F.abs(F.col("c_gv") * F.col("n") - F.col("c_v") * F.col("n_g"))
            )
            .cast("long")
            .alias("tq")
        )
    )
    band = F.expr("(10 * tq) div (2 * n_g * n)").cast("long")
    return (
        per_group.groupBy(band.alias("t_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_g").cast("long").alias("n_rows"),
            F.round(
                F.max(
                    F.col("tq").cast("double")
                    / (2.0 * F.col("n_g") * F.col("n"))
                ),
                4,
            ).alias("max_t"),
        )
        .orderBy("t_band")
    )


#: DP release parameters: epsilon, and the hash-uniform modulus
_DP_EPS = 1.0
_DP_MOD = 2**32


@register(
    "dp_noisy_release",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
        FROM events GROUP BY 1),
    u AS (
        SELECT event_type, true_n,
               CAST({_DUCK_HASH32.format(x="'dp:' || event_type")}
                    AS DOUBLE) / {_DP_MOD} AS uu
        FROM c),
    nz AS (
        SELECT event_type, true_n,
               CASE WHEN uu < 0.5
                    THEN (1.0 / {_DP_EPS}) * ln(2 * uu)
                    ELSE -(1.0 / {_DP_EPS}) * ln(2 * (1 - uu)) END AS noise
        FROM u)
    SELECT event_type, true_n,
           round(true_n + noise, 4) AS released,
           round(abs(noise), 4) AS abs_err,
           {_DP_EPS} AS epsilon
    FROM nz ORDER BY event_type
    """,
    description=f"Laplace-mechanism differentially-private count "
    f"release (epsilon = {_DP_EPS}, sensitivity 1): per-event-type "
    "counts plus Laplace(1/eps) noise drawn by inverse-CDF from a "
    "hash-derived uniform, with the realized absolute error as the "
    "calibration audit.  Honest scope note: the deterministic "
    "hash seed makes this an attestation of the MECHANISM's "
    "arithmetic (a real release draws fresh randomness and never "
    "publishes true_n); swap the hash for a secure RNG and drop the "
    "audit columns to deploy.  Completes the privacy family: "
    "k-anonymity / l-diversity / t-closeness bound linkage, the DP "
    "release bounds inference from published aggregates.",
)
def dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One partial-aggregable count per type, then pure map-side math
    on the 5-row result: u = hash32('dp:'||type)/2^32 is an exact
    dyadic rational, the inverse CDF ln(2u)/eps branches on u<0.5
    exactly, and both engines evaluate the identical double
    expression (the bootstrap_ci idiom).  Noise cost is O(groups),
    independent of data volume — the whole point of releasing DP
    AGGREGATES at 100 TB."""
    from mqtt2clickhouse_spark.ops.dedup import hash32

    c = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    uu = hash32(F.concat(F.lit("dp:"), F.col("event_type"))).cast(
        "double"
    ) / F.lit(float(_DP_MOD))
    noise = F.when(
        uu < 0.5, (1.0 / _DP_EPS) * F.log(2 * uu)
    ).otherwise(-(1.0 / _DP_EPS) * F.log(2 * (1 - uu)))
    return c.select(
        "event_type",
        "true_n",
        F.round(F.col("true_n") + noise, 4).alias("released"),
        F.round(F.abs(noise), 4).alias("abs_err"),
        F.lit(_DP_EPS).alias("epsilon"),
    ).orderBy("event_type")
