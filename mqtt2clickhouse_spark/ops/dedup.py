"""Deduplication operators: exact, MinHash(+LSH banding), SimHash,
n-gram Jaccard — the scale path for near-duplicate detection over a
document corpus.

Design for 100 TB:
- Exact dedup is a hash aggregate (``dropDuplicates``) — one shuffle on
  the full row hash.
- MinHash-LSH turns the O(n²) pair problem into: shingle → K minhashes
  (map-only) → band → shuffle on (band, signature) → pairs only within
  buckets.  The shuffle key cardinality is #docs × #bands, and bucket
  sizes are the only quadratic term.
- SimHash is map-only per doc (64→16-bit signature here); candidate
  pairs come from signature equality or banding, not all-pairs.
- All hashing is md5-based integer arithmetic (deterministic, engine-
  independent) so every step is oracle-checkable in DuckDB — deliberately
  NOT Spark's murmur3 ``hash()`` or ``pyspark.ml`` MinHashLSH, whose
  seeds/hash family would make cross-engine verification impossible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mqtt2clickhouse_spark.tables import fan_out

#: Mersenne prime 2^31-1, the classic universal-hash modulus.
MINHASH_PRIME = 2147483647


def hash32(s: Column) -> Column:
    """Deterministic 32-bit hash of a string: first 8 hex chars of md5.

    DuckDB-equivalent expression (used in oracles):
    ``list_sum(list_transform(range(1, 9), i ->
    (strpos('0123456789abcdef', substring(md5(s), i, 1)) - 1) *
    (16 ** (8 - i))))::BIGINT``
    """
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text (pure Column
    expression; see ``shingle_rows`` for the fast path)."""
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != F.lit(""))
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(F.when(count > 0, grams).otherwise(F.array()))


def shingle_udf(n: int):
    """Arrow-batched shingle generator.

    Catalyst higher-order functions (transform/filter lambdas) are
    evaluated interpreted — no whole-stage codegen — which makes the
    Column-expression ``word_shingles`` the hot-spot of every shingling
    pipeline (measured ~3x slower than this pandas UDF at sf0.1).  The
    UDF is map-only and Arrow-batched, so it scales exactly like the
    expression version.  Tokenization matches the Column version
    bit-for-bit: split on ASCII whitespace runs (Java/RE2 ``\\s``),
    drop empties, lowercase, first-occurrence-distinct.
    """
    import re

    ws = re.compile(r"[ \t\n\r\f\v]+")

    @F.pandas_udf("array<string>")
    def shingles(texts: pd.Series) -> pd.Series:
        def sh(t):
            toks = [w for w in ws.split(t.lower()) if w]
            return list(
                dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
                )
            )

        return texts.map(sh)

    return shingles


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, n_sh, shingle) — one row per distinct shingle per document.

    The set size rides inside the exploded struct so the UDF column is
    referenced by exactly ONE operator (the Generate): a separate
    ``size(_sh)`` projection makes ExtractPythonUDFs plan a second
    ArrowEvalPython and run the shingling twice per row (measured in the
    jaccard plan before this shape)."""
    import re

    ws = re.compile(r"[ \t\n\r\f\v]+")

    @F.pandas_udf("array<struct<n_sh:int,shingle:string>>")
    def sized_shingles(texts: pd.Series) -> pd.Series:
        def sh(t):
            toks = [w for w in ws.split(t.lower()) if w]
            grams = list(
                dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
                )
            )
            return [(len(grams), g) for g in grams]

        return texts.map(sh)

    return df.select(
        F.col(id_col).alias("id"),
        F.explode(sized_shingles(F.col(text_col))).alias("e"),
    ).select("id", "e.n_sh", "e.shingle")


def shingle_store(docs: DataFrame, sf_dir: str, n: int = 3) -> DataFrame:
    """``shingle_rows`` of the FULL documents table, materialized
    once per Spark session — the shingle table a production dedup
    pipeline persists next to the corpus (it feeds every exact-verify
    path: jaccard, containment, threshold sweeps, decontamination,
    prefix-filter set joins).  A dozen registered queries were each
    re-running the shingling pandas-UDF over the whole corpus; one
    build now serves them all, and per-query consumers re-scan cheap
    columnar parquet instead (NOTES: pinning these fat rows in the
    block manager measured SLOWER than recompute — a columnar scan is
    the cheapest of the three).

    Contract: ``docs`` MUST be the documents table of ``sf_dir`` (that
    is what the key describes); same schema as ``shingle_rows``:
    (id, n_sh, shingle).  Equality with a direct call is pinned by
    tests/test_edge_cache.py."""
    from mqtt2clickhouse_spark.ops.store import materialized

    return materialized(
        docs.sparkSession,
        f"shingles:{sf_dir}:n{n}",
        lambda: shingle_rows(fan_out(docs), "doc_id", "text", n),
    )


def minhash_signature_store(
    docs: DataFrame, sf_dir: str, k: int = 8, shingle_n: int = 3
) -> DataFrame:
    """``minhash_signature`` of the FULL documents table, materialized
    once per Spark session — the per-document signature store an LSH
    dedup deployment keeps as index state (signatures are computed at
    ingest, banded at query time).  Built FROM the shingle store, so
    the shingling cost is paid once for both materializations.
    Contract identical to ``shingle_store``."""
    from mqtt2clickhouse_spark.ops.store import materialized

    def build() -> DataFrame:
        shingled = shingle_store(docs, sf_dir, n=shingle_n).select(
            F.col("id").alias("doc_id"), "shingle"
        )
        h = hash32(F.col("shingle"))
        aggs = [
            F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_coeffs(k))
        ]
        return shingled.groupBy("doc_id").agg(*aggs)

    return materialized(
        docs.sparkSession, f"minhash:{sf_dir}:k{k}_n{shingle_n}", build
    )


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_k(x) = (a_k * x + b_k) mod p.  Kept small so a_k * hash32 stays
    far inside int64."""
    return [(17 + 13 * i, 7 + 101 * i) for i in range(k)]


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Per-document MinHash signature: columns ``m0..m{k-1}``.

    Map-only up to the final groupBy on the id (one shuffle, combiner
    active: min() is partial-aggregable).
    """
    df = fan_out(df)
    shingled = shingle_rows(df, id_col, text_col, shingle_n).select(
        F.col("id").alias(id_col), "shingle"
    )
    h = hash32(F.col("shingle"))
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_coeffs(k))
    ]
    return shingled.groupBy(id_col).agg(*aggs)


# the shared drop-oversize-keys cap lives in ops.skew beside its
# keep-a-subset twin bounded_lowest (r11 review: three modules were
# importing this as a cross-module private); the local alias keeps the
# in-module call sites and historical references working
from mqtt2clickhouse_spark.ops.skew import (  # noqa: E402
    drop_oversize_keys as _cap_buckets,
)


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Band the signature and emit candidate pairs sharing >= 1 band.

    Returns (id_a, id_b) with id_a < id_b, distinct.  The only shuffle
    is on (band_id, band_sig); bucket-local self-join keeps the pair
    blow-up bounded by bucket size.

    ``distinct=False`` skips the final dedup shuffle and may emit a
    pair once per shared band (<= ``bands`` copies) — for consumers
    that dedup anyway (``connected_components`` distincts its edge set
    up front), the extra exchange is pure waste (r15 optimization;
    a localCheckpoint boundary hides the first distinct's partitioning,
    so back-to-back distincts both paid a full shuffle).

    ``max_bucket`` caps the quadratic term: a bucket with more than
    ``max_bucket`` members (a degenerate near-constant band signature —
    empty docs, boilerplate) is dropped entirely rather than emitting
    its O(members²) pairs.  At corpus scale a cap is mandatory: one
    million-member bucket is 5·10¹¹ pairs.  Dropped buckets are
    observable via ``lsh_bucket_histogram`` (monitor it; a fat tail
    means the band width needs retuning).
    """
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.concat_ws("_", *cols).alias("band_sig"))
        )
    banded = sig.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("band")
    ).select("id", "band.band_id", "band.band_sig")
    if max_bucket is not None:
        # r16: drop_oversize_keys references its input twice (the group
        # counts and the anti-join's left side), so the signature scan +
        # band explode was planned twice whenever the cap is on.  The
        # banded table is 3 narrow columns x bands rows per doc; one pin
        # makes the cap a single pass over it (guide §2.4 — the same
        # two-consumer rule jaccard_pairs applies to its shingle input).
        banded = banded.localCheckpoint(eager=False)
    # Group each bucket's members and emit pairs from the sorted member
    # list — ONE pass over the signature pipeline (a self-join would plan
    # it twice) and one shuffle on the band key.  Bucket lists are small
    # by construction (that is the point of banding); with max_bucket
    # set, degenerate buckets die by COUNT (partial-aggregable, then an
    # anti-join against the oversize keys) BEFORE collect_list —
    # pre-r11 the full hot bucket's id list materialized in one
    # aggregation buffer and was only then dropped by a size() filter
    # (the link_prediction_ra hub-OOM class at corpus scale).
    banded = _cap_buckets(banded, ["band_id", "band_sig"], max_bucket)
    buckets = banded.groupBy("band_id", "band_sig").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    buckets = buckets.filter(F.size("ids") > 1)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    out = pairs.select("p.id_a", "p.id_b")
    return out.distinct() if distinct else out


def lsh_bucket_histogram(
    sig: DataFrame, id_col: str, k: int = 8, bands: int = 4
) -> DataFrame:
    """Bucket-size distribution of the LSH banding: (bucket_size,
    n_buckets).  The monitoring companion to ``max_bucket`` — run it to
    see how many buckets (and candidate pairs) a cap would drop before
    committing to one."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.concat_ws("_", *cols).alias("band_sig"))
        )
    banded = sig.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("band")
    ).select("id", "band.band_id", "band.band_sig")
    sizes = banded.groupBy("band_id", "band_sig").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy("bucket_size")
    )


def simhash16(text: Column) -> Column:
    """16-bit SimHash of the token set, as a BIGINT in [0, 65536).

    Per token: 32-bit hash; bit j contributes +1/-1 to dimension j;
    signature bit j = 1 iff the sum is positive.  Pure array expressions
    (no shuffle, no UDF).
    """
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != F.lit(""))
    hashes = F.transform(toks, lambda t: hash32(t))
    bit_sums = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.floor(h / F.pow(F.lit(2.0), j.cast("double"))) % 2 == 1, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_sums,
            F.sequence(F.lit(0), F.lit(15)),
            lambda s, j: F.when(s > 0, F.pow(F.lit(2.0), j.cast("double")).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash16_udf():
    """Arrow-batched SimHash — bit-for-bit identical to ``simhash16``
    (md5-derived token hashes, integer +1/-1 bit votes are
    order-independent, so the summation order cannot differ) but ~3x
    faster: the Column version evaluates 16 interpreted ``aggregate``
    lambdas per document (see shingle_udf's rationale)."""
    import hashlib
    import re

    import numpy as np

    ws = re.compile(r"[ \t\n\r\f\v]+")

    @F.pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        def sh(t):
            toks = [w for w in ws.split(t.lower()) if w]
            if not toks:
                return 0
            hs = np.array(
                [int(hashlib.md5(w.encode()).hexdigest()[:8], 16) for w in toks],
                dtype=np.int64,
            )
            bits = (hs[:, None] >> np.arange(16)) & 1  # (n_tokens, 16)
            votes = np.where(bits == 1, 1, -1).sum(axis=0)
            return int(((votes > 0).astype(np.int64) << np.arange(16)).sum())

        return texts.map(sh)

    return simhash


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle.

    Shuffle on shingle; the quadratic term is per-shingle doc-frequency:
    a shingle shared by f documents contributes f² join rows, so at
    corpus scale a stopword-like shingle ("of the and …") is the
    scale-killer.  ``max_df`` caps it: shingles appearing in more than
    ``max_df`` documents are dropped BEFORE the self-join and per-doc
    set sizes are recomputed over the retained shingles, so the result
    is the exact Jaccard of the DF-FILTERED shingle sets (the filtered
    space is also the better similarity signal — ubiquitous shingles
    carry no information).

    Plan shape: without max_df, shingle_rows carries the set size
    through the explode, so there is no separate per-doc size subtree.
    With max_df everything stays on hash aggregates and equi-joins (no
    WindowExec sorts): DF counts via groupBy(shingle) with map-side
    combine, the keep-join and the self-join both reuse the shingle
    partitioning, and the recomputed per-doc sizes join onto the
    (already tiny) pair aggregate — AQE broadcasts them when small.
    The join row count is bounded by max_df · #shingles.

    ``shingled``: optionally supply the shingle table directly — e.g.
    the materialized ``shingle_store`` — instead of re-shingling
    ``df``; must have ``shingle_rows`` schema (id, n_sh, shingle).
    """
    if shingled is None:
        shingled = shingle_rows(fan_out(df), id_col, text_col, shingle_n)
    if max_df is not None:
        # r15 optimization (guide §2.3/§3): the DF cap used to run as an
        # inner join against the KEEP-list (df <= max_df — i.e. nearly
        # every shingle, a corpus-sized join side) followed by a shingle
        # self-join whose f² intersection rows were produced by the join
        # machinery.  Both replaced with the repo's own LSH bucket
        # idiom: drop the few OVERSIZE shingles with a bounded anti-join
        # (ops.skew.drop_oversize_keys — the small side is the drop
        # list, not the keep list), group the survivors per shingle
        # (bucket size <= max_df by construction, so the collect_list
        # buffer is capped), and expand each bucket's <= max_df member
        # list into ordered pairs map-side with HOF transforms — no
        # self-join, one fewer corpus-sized join at any scale.  The
        # (id_a, id_b) counts are identical: each shared kept shingle
        # contributes exactly one pair row on both formulations.
        sh = shingled.select("id", "shingle").localCheckpoint(eager=False)
        # ^ 2 consumers (the DF counts and the anti-join's left side);
        # with a parquet-backed store input the pin is nearly free
        from mqtt2clickhouse_spark.ops.skew import drop_oversize_keys

        kept = drop_oversize_keys(sh, ["shingle"], max_df).localCheckpoint(
            eager=False
        )  # 2 consumers: per-doc sizes + per-shingle buckets
        sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        buckets = (
            kept.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        pair_rows = buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                            lambda y: F.struct(
                                x.alias("id_a"), y.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.id_a", "p.id_b")
        inter = (
            pair_rows.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        )
    else:
        a = shingled.alias("a")
        b = shingled.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("n_inter"),
                F.first(F.col("a.n_sh")).alias("n_a"),
                F.first(F.col("b.n_sh")).alias("n_b"),
            )
        )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    # Filter on the UNROUNDED ratio (the oracle does too); rounding is
    # presentation only — thresholding the rounded value would keep a
    # jaccard in [threshold-5e-5, threshold) that the oracle drops.
    return (
        inter.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def lsh_incremental_candidates(
    sig: DataFrame,
    id_col: str,
    new_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Asymmetric banding for INCREMENTAL dedup: candidate (new_id,
    old_id) pairs where a NEW document shares >= 1 LSH band with an
    EXISTING one — never old x old (the existing corpus was already
    deduped) and never new x new (callers dedup the increment
    separately if they want it).

    Same single-shuffle shape as ``lsh_candidate_pairs``: buckets
    collect their members once, the new x old expansion is map-side HOF
    work over the partitioned member lists, and ``max_bucket`` caps the
    whole bucket exactly like the symmetric path (a degenerate band
    signature is degenerate regardless of which side its members are
    on).  This is the production shape for streaming ingestion: the
    increment's signatures probe the standing corpus index without ever
    re-pairing the corpus against itself.
    """
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.concat_ws("_", *cols).alias("band_sig"))
        )
    banded = sig.select(
        F.col(id_col).alias("id"),
        F.col(new_col).alias("is_new"),
        F.explode(F.array(*band_cols)).alias("band"),
    ).select("id", "is_new", "band.band_id", "band.band_sig")
    # same pre-collect cap as the symmetric path: degenerate buckets
    # die by count before any member list materializes
    banded = _cap_buckets(banded, ["band_id", "band_sig"], max_bucket)
    buckets = banded.groupBy("band_id", "band_sig").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("id"), F.col("is_new")))
        ).alias("members")
    )
    news = F.filter(F.col("members"), lambda m: m["is_new"])
    olds = F.filter(F.col("members"), lambda m: ~m["is_new"])
    pairs = (
        buckets.select(news.alias("news"), olds.alias("olds"))
        .filter((F.size("news") >= 1) & (F.size("olds") >= 1))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("news"),
                        lambda x: F.transform(
                            F.col("olds"),
                            lambda y: F.struct(
                                x["id"].alias("new_id"), y["id"].alias("old_id")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
    )
    return pairs.select("p.new_id", "p.old_id").distinct()
