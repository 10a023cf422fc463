"""Vector similarity search over an embedding column (array<float>).

- ``cosine``: pure Column expression — double-precision, element-order
  dot product (deterministic, matches DuckDB's list_cosine_similarity
  after CAST to DOUBLE[]).
- ``brute_force_topk``: exact top-k — the correctness baseline.  Query
  side is broadcast; the corpus is scanned once, ranked per query via a
  windowed row_number.  At 100 TB this is the "small query batch × huge
  corpus" pattern: one broadcast + one shuffle of (n_queries × k) rows.
- ``ivf_topk``: the scale path — IVF-style partition pruning.  Vectors
  are assigned to their nearest pivot (coarse quantizer) at write time;
  a query probes only ``nprobe`` nearest pivot cells, cutting the
  scanned fraction to nprobe/n_pivots.  Pivots here are taken
  deterministically from the corpus (lowest ids) so results are
  reproducible and oracle-checkable; swap in k-means centroids for
  production quality.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    a, b = as_double(a), as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``.

    Returns (query_id, neighbor_id, rank, sim).  Similarity is rounded
    BEFORE ranking (ties broken by neighbor id) so the ranking is stable
    across engines/float summation orders.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    from mqtt2clickhouse_spark.tables import fan_out

    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        )
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    rows_per_block: int = 4096,
) -> DataFrame:
    """All-pairs cosine similarity above ``threshold`` via distributed
    block-pair GEMM — NO driver materialization.

    The corpus hash-splits into B = ceil(N / rows_per_block) blocks;
    each row is replicated to the B unordered block pairs it belongs to,
    and ``applyInPandas`` computes the numpy ``block_a @ block_b.T``
    (BLAS, Arrow-batched) per pair group.  Every (a, b) pair is scored
    in exactly one group, so blocking never changes the result.

    Scale story: O(N·B) shuffle traffic and O(N²·d) FLOPs with NOTHING
    held on the driver and ~2·rows_per_block·d·8 B peak memory per task
    — the knobs are independent of corpus size, so the same plan runs on
    a 1000-executor cluster (vs the previous broadcast design, whose
    driver collect() capped the corpus at driver memory).  The FLOPs are
    inherent to exact all-pairs: beyond ~1e7 vectors, prune candidates
    first (LSH in ops.dedup, or ``ivf_topk`` cells) and verify exactly
    within buckets.

    Emits (id_a, id_b, sim) with id_a < id_b, sim rounded.
    """
    import math

    import numpy as np
    import pandas as pd

    # distributed count — an aggregate, not a row fetch
    n = corpus.count()
    b = max(1, math.ceil(n / rows_per_block))

    blocks = corpus.select(
        F.col(id_col).alias("vid"),
        as_double(F.col(vec_col)).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(b)).cast("int").alias("blk"),
    )
    # row in block p joins pair group (min(p, j), max(p, j)) for every
    # other block j — exactly one copy per group, including the self pair
    pairs = blocks.select(
        "vid",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("obk"),
    ).select(
        F.least("blk", "obk").alias("g1"),
        F.greatest("blk", "obk").alias("g2"),
        "blk",
        "vid",
        "v",
    )

    def gemm(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        g1, g2 = key
        a = pdf[pdf["blk"] == g1]
        ids_a = a["vid"].to_numpy(dtype=np.int64)
        mat_a = np.array(list(a["v"]), dtype=np.float64)
        mat_a = mat_a / np.linalg.norm(mat_a, axis=1, keepdims=True)
        if g1 == g2:
            ids_b, mat_b = ids_a, mat_a
        else:
            bdf = pdf[pdf["blk"] == g2]
            ids_b = bdf["vid"].to_numpy(dtype=np.int64)
            mat_b = np.array(list(bdf["v"]), dtype=np.float64)
            mat_b = mat_b / np.linalg.norm(mat_b, axis=1, keepdims=True)
        sims = np.round(mat_a @ mat_b.T, round_to)
        li, ri = np.nonzero(sims >= threshold)
        id_a, id_b, s = ids_a[li], ids_b[ri], sims[li, ri]
        if g1 == g2:
            # self pair: each {x, y} appears at (x,y) AND (y,x) — keep
            # the upper triangle (also drops the diagonal self-match)
            keep = id_a < id_b
        else:
            # cross pair: each {x, y} appears exactly once, arbitrary
            # order — keep all, canonicalize below
            keep = slice(None)
        return pd.DataFrame(
            {
                "id_a": np.minimum(id_a, id_b)[keep],
                "id_b": np.maximum(id_a, id_b)[keep],
                "sim": s[keep],
            }
        )

    return pairs.groupBy("g1", "g2").applyInPandas(
        gemm, schema="id_a long, id_b long, sim double"
    )


def assign_cells(
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: each vector → nearest pivot id (by
    cosine; ties broken by pivot id).  One broadcast join, no shuffle of
    the corpus."""
    from mqtt2clickhouse_spark.tables import fan_out

    p = pivots.select(
        F.col(id_col).alias("pivot_id"), as_double(F.col(vec_col)).alias("pv")
    )
    c = fan_out(
        corpus.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("cv"))
    )
    scored = c.join(F.broadcast(p)).select(
        "vid",
        "cv",
        "pivot_id",
        F.round(cosine(F.col("cv"), F.col("pv")), 6).alias("psim"),
    )
    # argmax as an aggregation, not a window: max_by over (psim, -pivot)
    # picks best-psim-then-lowest-pivot — identical winner to the
    # row_number formulation, without the per-key sort.  cv is constant
    # per vid, so any_value is exact.
    return scored.groupBy("vid").agg(
        F.any_value("cv").alias("cv"),
        F.max_by(
            "pivot_id", F.struct(F.col("psim"), (-F.col("pivot_id")).alias("np"))
        ).alias("cell"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_pivots: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pivots: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` cells nearest each
    query.  Default pivots = the ``n_pivots`` lowest-id corpus vectors
    (deterministic, oracle-checkable); pass ``pivots`` (pivot_id, pv)
    from ``kmeans_pivots`` for production-quality cells."""
    if pivots is None:
        # lowest-id vectors as deterministic pivots: orderBy+limit plans
        # as TakeOrderedAndProject (per-partition top-n + driver merge),
        # NOT a global single-partition sort — safe on any corpus size.
        # (Measured: collecting the 16 rows and rebuilding a local
        # DataFrame is ~0.7s SLOWER than letting both broadcast
        # consumers replan this subtree — the Py4J row round-trip costs
        # more than the re-scan.)
        pivots = corpus.orderBy(F.col(id_col)).limit(n_pivots)
    else:
        pivots = pivots.select(
            F.col("pivot_id").alias(id_col), F.col("pv").alias(vec_col)
        )
    cells = assign_cells(corpus, pivots, id_col, vec_col)

    # query → nprobe nearest cells
    p = pivots.select(
        F.col(id_col).alias("pivot_id"), as_double(F.col(vec_col)).alias("pv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    qcells = (
        q.join(F.broadcast(p))
        .select(
            "query_id",
            "qv",
            "pivot_id",
            F.round(cosine(F.col("qv"), F.col("pv")), 6).alias("psim"),
        )
        .withColumn(
            "prank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.col("psim").desc(), F.col("pivot_id"))
            ),
        )
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "qv", F.col("pivot_id").alias("cell"))
    )

    scored = (
        F.broadcast(qcells)
        .join(cells, "cell")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# ---------------------------------------------------------------------------
# Signed-random-projection LSH (SimHash for vectors): the sub-quadratic
# candidate path for embedding near-dup at corpus scale.
# ---------------------------------------------------------------------------


def srp_signature(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 60,
    dim: int = 64,
) -> DataFrame:
    """Signed-random-projection signature: bit k = (v · h_k > 0) for
    ``bits`` fixed pseudo-random ±1 hyperplanes, packed into one BIGINT.

    Engine-independent and EXACT: hyperplane entries come from md5
    parity (h_k[j] = +1 iff hash32(f"{k}_{j}") is even — the same hash
    family as ops.dedup), and vectors are quantized to integers
    (floor(v*1e6 + 0.5)) before the dot product, so the sign is integer
    arithmetic with no float summation-order hazard — a DuckDB oracle
    reproduces every bit.  Map-only (one Arrow batch GEMM per task, the
    (bits × dim) matrix is a closure constant), no shuffle.
    """
    import hashlib

    import numpy as np

    W = np.array(
        [
            [
                1
                if int(hashlib.md5(f"{k}_{j}".encode()).hexdigest()[:8], 16) % 2 == 0
                else -1
                for j in range(dim)
            ]
            for k in range(bits)
        ],
        dtype=np.int64,
    )
    shifts = np.arange(bits, dtype=np.int64)

    @F.pandas_udf("long")
    def sig(vs: pd.Series) -> pd.Series:
        M = np.array(list(vs), dtype=np.float64)
        Q = np.floor(M * 1e6 + 0.5).astype(np.int64)  # exact quantization
        D = Q @ W.T  # integer dots — associative, cross-engine exact
        return pd.Series(((D > 0).astype(np.int64) << shifts).sum(axis=1))

    return corpus.select(
        F.col(id_col).alias("id"), sig(as_double(F.col(vec_col))).alias("sig")
    )


def srp_candidate_pairs(
    sig: DataFrame,
    bits: int = 60,
    bands: int = 6,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Band the packed signature (width bits/bands) and emit (id_a,
    id_b) pairs sharing >= 1 band — same bucket-list pattern as
    ops.dedup.lsh_candidate_pairs: ONE shuffle on (band, band_sig),
    pairs from sorted bucket member lists, hot buckets capped.

    Geometry picks the candidate rate: for band width w, a random pair
    collides per band with ~2^-w.  The default 10-bit x 6 bands keeps
    the verify set ~0.6% of all pairs; at real near-dup similarities
    (cos >= 0.9, bit-agreement ~0.86) recall is 1-(1-0.86^10)^6 ~ 0.78
    (widen to more bands-of-8 for higher recall at more verify cost).
    Weakly-similar pairs (cos ~ 0.5) are NOT this operator's regime —
    use ivf_topk or the exact block GEMM there.
    """
    width = bits // bands
    mask = (1 << width) - 1
    if max_bucket is not None:
        # the cap's count pass + anti join reference the signature
        # subtree TWICE (the diamond rule), and this generator's input
        # embeds the srp_signature pandas GEMM — pin the narrow
        # (id, sig) table (2 longs/doc, the cheap-OUTPUT pin shape) so
        # the GEMM runs once.  The minhash generators skip this: their
        # signatures come from a parquet store, and re-reading it is
        # cheaper than a second materialization.
        sig = sig.localCheckpoint(eager=False)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col("sig"), b * width).bitwiseAND(F.lit(mask)).alias("band_sig"),
        )
        for b in range(bands)
    ]
    banded = sig.select("id", F.explode(F.array(*band_cols)).alias("band")).select(
        "id", "band.band_id", "band.band_sig"
    )
    # pre-collect cap (ops.skew.drop_oversize_keys): degenerate buckets
    # die by partial-aggregable count + anti-join BEFORE collect_list,
    # so a hot bucket never materializes its member list in one
    # aggregation buffer
    from mqtt2clickhouse_spark.ops.skew import drop_oversize_keys

    banded = drop_oversize_keys(banded, ["band_id", "band_sig"], max_bucket)
    buckets = banded.groupBy("band_id", "band_sig").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    buckets = buckets.filter(F.size("ids") > 1)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice(F.col("ids"), 1, F.size("ids") - 1),
                    lambda a, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def srp_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 60,
    bands: int = 6,
    round_to: int = 4,
) -> DataFrame:
    """LSH-then-verify embedding near-dup: SRP banding prunes to
    candidate pairs, exact cosine confirms.  This is the plan that
    replaces ``cosine_pairs_blocked``'s O(N²) FLOPs once the corpus
    outgrows them: signature is map-only, candidates shuffle on the
    band key, and the verify join touches only candidates."""
    s = srp_signature(corpus, id_col, vec_col, bits=bits)
    pairs = srp_candidate_pairs(s, bits=bits, bands=bands)
    e = corpus.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    sim = F.round(cosine(F.col("va"), F.col("vb")), round_to)
    return (
        pairs.join(e.select(F.col("vid").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(e.select(F.col("vid").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def covariance_upper(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Upper-triangle population covariance of the embedding corpus as
    (i, j, cov) with 1-based dims and i <= j — UNROUNDED (callers round
    to their output precision).

    One mapInPandas pass emits per-partition partials (count, per-dim
    sums, and the d×d Gram matrix from a single numpy GEMM), so the
    shuffle carries at most n_partitions × d(d+1)/2 rows regardless of
    corpus size; the final aggregate closes the E[xy] − E[x]E[y] form.
    The posexplode + self-join alternative would shuffle corpus×d² rows
    — this is the kernel both embedding_covariance and
    embedding_pca_power build on."""
    import numpy as np

    emb = corpus.select(as_double(F.col(vec_col)).alias("cv"))

    def partials(batches):
        n = 0
        s = None
        p = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["cv"].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x
            p = g if p is None else p + g
        if n == 0:
            return
        d = len(s)
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu + 1,
                "j": ju + 1,
                "n": np.full(len(iu), n, dtype=np.int64),
                "sx": s[iu],
                "sy": s[ju],
                "sxy": p[iu, ju],
            }
        )

    part = emb.mapInPandas(
        partials, schema="i long, j long, n long, sx double, sy double, sxy double"
    )
    agg = part.groupBy("i", "j").agg(
        F.sum("n").alias("nn"),
        F.sum("sx").alias("tx"),
        F.sum("sy").alias("ty"),
        F.sum("sxy").alias("txy"),
    )
    cov = F.col("txy") / F.col("nn") - (F.col("tx") / F.col("nn")) * (
        F.col("ty") / F.col("nn")
    )
    return agg.select("i", "j", cov.alias("cov"))


def kmeans_pivots(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd iterations for IVF coarse-quantizer pivots:
    init = the k lowest-id vectors, then ``iters`` rounds of assign +
    recompute means.  Returns (pivot_id, pv: array<double>).

    Execution shape (the one MLlib KMeans uses): the k×d pivot matrix
    lives on the driver; each round is a SINGLE ``mapInPandas`` pass
    over the corpus that scores all k cells with one numpy GEMM and
    emits per-partition partial (cell, count, sum-vector) rows — at
    most k rows per partition, reduced on the driver.  Zero shuffles
    per round, no k× row expansion, no per-element aggregation; driver
    traffic is O(k·d·n_partitions) per round regardless of corpus size.
    Assignment ties (cosine rounded to 6 places) break to the lowest
    pivot id, matching ``assign_cells``; an empty cell keeps its
    previous pivot.  Fixed init + fixed round count keep runs
    reproducible.  Feed the result to ``ivf_topk(pivots=...)``."""
    import numpy as np

    spark = corpus.sparkSession
    init = (
        corpus.orderBy(F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("pivot_id"), as_double(F.col(vec_col)).alias("pv"))
        .collect()
    )
    pivot_ids = [r["pivot_id"] for r in init]  # ascending: index == tie-break order
    pmat = np.array([r["pv"] for r in init], dtype=np.float64)
    # pinned once: every Lloyd round re-reads this projection, and
    # without the checkpoint each round re-plans the scan + cast
    c = (
        corpus.select(as_double(F.col(vec_col)).alias("cv"))
        .localCheckpoint(eager=False)
    )
    n_dim = pmat.shape[1]

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(pmat)

        def partials(batches, _bc=bc, _k=len(pivot_ids), _d=n_dim):
            pn = _unit_rows(_bc.value)
            cnt = np.zeros(_k, dtype=np.int64)
            sums = np.zeros((_k, _d), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.vstack(pdf["cv"].to_numpy()).astype(np.float64)
                xn = _unit_rows(x)
                # argmax returns the FIRST max ⇒ lowest pivot index ⇒
                # lowest pivot id — same tie-break as assign_cells
                cell = np.round(xn @ pn.T, 6).argmax(axis=1)
                np.add.at(sums, cell, x)
                cnt += np.bincount(cell, minlength=_k)
            hit = np.flatnonzero(cnt)
            yield pd.DataFrame(
                {"cell": hit, "cnt": cnt[hit], "s": list(sums[hit])}
            )

        rows = c.mapInPandas(
            partials, schema="cell int, cnt long, s array<double>"
        ).collect()
        cnt = np.zeros(len(pivot_ids), dtype=np.int64)
        sums = np.zeros_like(pmat)
        for r in rows:
            cnt[r["cell"]] += r["cnt"]
            sums[r["cell"]] += np.asarray(r["s"])
        occupied = cnt > 0
        pmat = np.where(
            occupied[:, None], sums / np.where(occupied, cnt, 1)[:, None], pmat
        )
        bc.destroy()

    return spark.createDataFrame(
        [(int(pid), [float(v) for v in vec]) for pid, vec in zip(pivot_ids, pmat)],
        "pivot_id long, pv array<double>",
    )


def kmeans_pivots_cached(
    corpus: DataFrame,
    sf_dir: str,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``kmeans_pivots`` materialized once per Spark session — the
    train-once / probe-many shape of a production ANN deployment: the
    coarse quantizer is INDEX STATE, built when the corpus lands, not
    re-trained by every query that probes it.  Registered consumers
    (similarity_ann_kmeans, kmeans_silhouette, semantic_dedup) all pass
    the identical k=16/iters=2 training over the embeddings table
    (explicitly — the iters DEFAULT here follows ``kmeans_pivots``);
    each was paying the full Lloyd pass stack per call.

    Keyed by (sf path, id/vec column names, k, iters); training runs
    only when the session has no such table yet.
    The caller's ``corpus`` MUST be the embeddings table of ``sf_dir``
    — that is what the key describes (all call sites pass ``t(spark,
    sf_dir, "embeddings")``).  Training is deterministic (fixed init,
    fixed rounds, float64 numpy), so the cached matrix equals a direct
    ``kmeans_pivots`` call bit-for-bit — pinned by
    tests/test_edge_cache.py."""
    from mqtt2clickhouse_spark.ops.store import materialized

    return materialized(
        corpus.sparkSession,
        f"pivots:{sf_dir}:{id_col}_{vec_col}_k{k}_i{iters}",
        lambda: kmeans_pivots(
            corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        ).coalesce(1),
    )


def quantize_int8(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage format a
    100 TB vector corpus actually ships (4x smaller than float32, 8x
    than float64; recall loss is negligible for cosine retrieval).

    scale = max|v| / 127;  q_i = floor(v_i / scale + 0.5)  (round-half-
    up via floor so every engine agrees bit-for-bit; an all-zero vector
    quantizes to zeros with scale 0).  Map-only — no shuffle; returns
    one row per (id, pos) with the quantized value and reconstruction
    error, flat so a SQL oracle can hash it.
    """
    v = as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    flat = df.select(
        F.col(id_col), scale.alias("scale"), F.posexplode(v).alias("pos0", "x")
    )
    q = F.when(F.col("scale") == 0.0, F.lit(0.0)).otherwise(
        F.floor(F.col("x") / F.col("scale") + 0.5)
    )
    err = F.round(q * F.col("scale") - F.col("x"), 6)
    # DuckDB's round preserves -0.0 where Spark's returns +0.0 — fold
    # both to +0.0 so the driver's byte-level value hash agrees
    err = F.when(err == 0.0, F.lit(0.0)).otherwise(err)
    return flat.select(
        F.col(id_col),
        (F.col("pos0") + 1).cast("long").alias("pos"),
        q.cast("long").alias("q"),
        err.alias("err"),
        F.round("scale", 6).alias("scale"),
    )


def cell_participants(
    cells: DataFrame,
    max_cell: int,
    id_col: str = "vid",
    cell_col: str = "cell",
) -> DataFrame:
    """The ``max_cell`` LOWEST-id members of every cell, selected on a
    NARROW (id, cell) projection — the skew-safe front half of
    ``within_cell_dups``'s cap.  The ranking shuffles 16 B/row ids, not
    vectors; a 30%-hot cell's rank partition is a sort-spill straggler
    at worst, never an OOM.  Returns (id_col, cell_col)."""
    return _ranked_cells(cells, id_col, cell_col).filter(
        F.col("_rk") <= max_cell
    ).select(id_col, cell_col)


def _ranked_cells(cells: DataFrame, id_col: str, cell_col: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy(cell_col).orderBy(id_col)
    return cells.select(id_col, cell_col).withColumn(
        "_rk", F.row_number().over(w)
    )


def within_cell_dups(
    cells: DataFrame,
    threshold: float,
    round_to: int = 4,
    max_cell: int | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup inner loop: per-cell pairwise cosine via one numpy GEMM.

    Input is ``assign_cells`` output (vid, cv, cell); each cell group is
    Arrow-batched into a task that computes the normalized ``A @ A.T``
    and marks a vector dup when a LOWER-id cell-mate scores ≥ threshold
    (same greedy keep-lowest rule as the SQL oracle).  Cosines are
    rounded before the compare so the keep/drop decision matches the
    oracle's rounded compare.

    ``max_cell`` is the skew guard (the LSH ``max_bucket`` analogue):
    only each cell's ``max_cell`` LOWEST-id members participate in the
    pairwise check; later members are kept unexamined.  The cap is
    applied BEFORE any vector shuffles: ``_ranked_cells`` ranks a
    narrow (vid, cell) projection (``cell_participants`` is the same
    ranking exposed standalone; here the ranked frame is kept so the
    exempt set shares ONE rank exchange with the participants), the
    corpus joins the participant ids on the unique (skew-free) vid
    key, and only those rows enter the pandas GEMM — so a degenerate cell bounds FLOPs AND task memory at
    max_cell²·round / max_cell·dims·8 B.  (Pre-r11 the cap was a slice
    INSIDE the pandas task, after the whole hot cell — vectors included
    — had materialized in one frame: the link_prediction_ra hub-OOM
    class, found by the r11 similarity skew probe.)  Non-participants
    are emitted keep=true from the narrow projection; their vectors
    never shuffle at all.

    ``vectors`` (optional, (vid, cv) — the RAW pre-assignment corpus):
    when given, the wide GEMM side joins it against the participants'
    (vid, cell) instead of re-projecting ``cells``, so the assignment
    subtree (broadcast pivot join + scoring + argmax agg — not prunable
    by Catalyst, the agg blocks column pruning) evaluates ONCE, in the
    narrow ranking; the wide side pays only the raw corpus scan.  Rows
    must correspond 1:1 with ``cells`` by vid.  Ignored when
    ``max_cell`` is None (the single-pass shape reads ``cells`` once).

    Scale: work is quadratic per CELL, not per corpus — the cell
    granularity plus ``max_cell`` bound both task memory and FLOPs.
    Emits (vid, cell, keep).
    """
    import numpy as np
    import pandas as pd

    def dups(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid")
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["cv"]), dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = np.round(mat @ mat.T, round_to)
        li, ri = np.nonzero(sims >= threshold)
        dup_ids = np.unique(ids[ri][ids[li] < ids[ri]])
        return pd.DataFrame(
            {
                "vid": ids,
                "cell": key[0],
                "keep": ~np.isin(ids, dup_ids),
            }
        )

    if max_cell is None:
        return cells.groupBy("cell").applyInPandas(
            dups, schema="vid long, cell long, keep boolean"
        )

    # one narrow ranking serves BOTH halves (participants feed the
    # GEMM join; ranks past the cap ARE the exempt set) — no anti join,
    # and the assign subtree under the rank exchange plans once and is
    # reused.  Without ``vectors`` the input subtree evaluates twice
    # (narrow rank + wide join side); pinning it would mean
    # materializing a corpus-sized frame, which is the exact hazard
    # this path removes.  With ``vectors`` the wide side is the raw
    # corpus and the cell id rides the participant join instead.
    ranked = _ranked_cells(cells, "vid", "cell")
    if vectors is not None:
        parts = ranked.filter(F.col("_rk") <= max_cell).select("vid", "cell")
        wide = vectors.select("vid", "cv").join(parts, "vid")
    else:
        parts = ranked.filter(F.col("_rk") <= max_cell).select("vid")
        wide = cells.join(parts, "vid")
    examined = wide.groupBy("cell").applyInPandas(
        dups, schema="vid long, cell long, keep boolean"
    )
    exempt = (
        ranked.filter(F.col("_rk") > max_cell)
        .select("vid", "cell")
        .withColumn("keep", F.lit(True))
    )
    return examined.unionByName(exempt)


def _unit_rows(mat):
    """Row-normalize a matrix with the zero-norm guard every cosine
    kernel in this module shares (zero vectors keep magnitude 0 instead
    of dividing by 0) — one definition so training, encoding, and
    assignment tie-breaks can never desynchronize."""
    import numpy as np

    n = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(n == 0.0, 1.0, n)


def pq_codebooks(
    corpus: DataFrame,
    m: int,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train all ``m`` product-quantization subspace codebooks at once.

    Same deterministic Lloyd semantics as ``kmeans_pivots`` applied to
    each d/m-dim slice (init = slices of the k lowest-id vectors,
    assign by rounded cosine with ties to the lowest pivot id, empty
    cells keep their pivot) — but ONE mapInPandas pass per round
    scores every subspace, so training costs ``iters`` jobs total
    instead of ``m × iters``.  Driver state is the m×k×(d/m) codebook
    tensor; per-partition partials are at most m×k rows.  Returns
    (pivot_ids ascending, codebook ndarray of shape (m, k, d/m),
    the pinned corpus projection for reuse by the encode pass).
    """
    import numpy as np

    spark = corpus.sparkSession
    init = (
        corpus.orderBy(F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("pid"), as_double(F.col(vec_col)).alias("pv"))
        .collect()
    )
    pivot_ids = [r["pid"] for r in init]
    full = np.array([r["pv"] for r in init], dtype=np.float64)
    d = full.shape[1]
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    sub_d = d // m
    # (m, k, sub_d): subspace s covers dims [s*sub_d, (s+1)*sub_d)
    books = full.reshape(k, m, sub_d).transpose(1, 0, 2).copy()
    c = (
        corpus.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("cv")
        )
        .localCheckpoint(eager=False)
    )

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(books)

        def partials(batches, _bc=bc, _m=m, _k=k, _sd=sub_d):
            bk = _bc.value
            cnt = np.zeros((_m, _k), dtype=np.int64)
            sums = np.zeros((_m, _k, _sd), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.vstack(pdf["cv"].to_numpy()).astype(np.float64)
                xs = x.reshape(len(x), _m, _sd)
                for s in range(_m):
                    pn = _unit_rows(bk[s])
                    xv = xs[:, s, :]
                    xn = _unit_rows(xv)
                    cell = np.round(xn @ pn.T, 6).argmax(axis=1)
                    np.add.at(sums[s], cell, xv)
                    cnt[s] += np.bincount(cell, minlength=_k)
            si, ci = np.nonzero(cnt)
            if not len(si):
                return
            yield pd.DataFrame(
                {
                    "sub": si,
                    "cell": ci,
                    "cnt": cnt[si, ci],
                    "s": list(sums[si, ci]),
                }
            )

        rows = c.mapInPandas(
            partials, schema="sub int, cell int, cnt long, s array<double>"
        ).collect()
        cnt = np.zeros((m, k), dtype=np.int64)
        sums = np.zeros_like(books)
        for r in rows:
            cnt[r["sub"], r["cell"]] += r["cnt"]
            sums[r["sub"], r["cell"]] += np.asarray(r["s"])
        occ = cnt > 0
        books = np.where(
            occ[:, :, None], sums / np.where(occ, cnt, 1)[:, :, None], books
        )
        bc.destroy()

    return pivot_ids, books, c


def pq_encode(
    pinned_corpus: DataFrame, pivot_ids: list, books
) -> DataFrame:
    """Encode every vector against the trained PQ codebooks in ONE
    Arrow pass: per subspace, argmax rounded cosine (ties → lowest
    pivot id, identical to ``assign_cells``); emits the compact
    (vec_id, codes array) form — m ints per vector — which callers
    posexplode JVM-side.  ``pinned_corpus`` is the (vid, cv) projection
    returned by ``pq_codebooks`` so training and encoding share one
    materialized scan."""
    import numpy as np

    spark = pinned_corpus.sparkSession
    m, k, sub_d = books.shape
    bc = spark.sparkContext.broadcast(books)
    ids = np.asarray(pivot_ids, dtype=np.int64)

    def encode(batches, _bc=bc, _m=m, _sd=sub_d, _ids=ids):
        bk = _bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["cv"].to_numpy()).astype(np.float64)
            xs = x.reshape(len(x), _m, _sd)
            codes = np.empty((len(x), _m), dtype=np.int64)
            for s in range(_m):
                pn = _unit_rows(bk[s])
                xn = _unit_rows(xs[:, s, :])
                codes[:, s] = _ids[np.round(xn @ pn.T, 6).argmax(axis=1)]
            yield pd.DataFrame({"vec_id": pdf["vid"], "codes": list(codes)})

    return pinned_corpus.mapInPandas(
        encode, schema="vec_id long, codes array<long>"
    )
