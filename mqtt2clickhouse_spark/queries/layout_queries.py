"""Physical-layout query surface: the two storage techniques a 100 TB
deployment lives on, demonstrated with plan-provable evidence.

- ``bucketed_join``: both join sides pre-bucketed (and sorted) on the
  join key into the same bucket count → the sort-merge join consumes the
  buckets directly and NO shuffle of either side appears in the plan.
  This is the co-located-join answer for the repeated big-fact joins a
  warehouse runs hourly (vs paying the lineitem shuffle on every query).
- ``partition_pruning``: the fact table written partitioned by day → a
  day-equality predicate prunes the scan to 1/30th of the files at
  planning time (``PartitionFilters`` in the scan node), the technique
  that turns "scan 100 TB" into "scan 3 TB" for time-ranged queries.

Both queries materialize their layout ONCE per (session, scale factor)
under the session's SparkFiles root, which Spark deletes when the
session stops — write-if-missing, so the measured steady-state cost is
the read path (a long-lived warehouse pays the layout cost at ingest
time, exactly like these queries' first call).  Values are
layout-independent, so the DuckDB oracles run on the ORIGINAL parquet
fixtures — the correctness check proves the layout changed the plan,
not the answer.

Plan pins: tests/test_plans.py asserts the bucketed join plans zero
exchanges before the SortMergeJoin and the pruned scan shows the day
predicate in PartitionFilters.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mqtt2clickhouse_spark.queries.base import register, t
from mqtt2clickhouse_spark.queries.dedup_queries import _DUCK_HASH32

_N_BUCKETS = 8
_PRUNE_DAY = "2024-01-15"


def _layout_root(sf_dir: str) -> str:
    """This session's layout root for ``sf_dir``: under the SparkFiles
    root, which Spark creates per SparkContext and deletes on
    ``stop()``, so a layout lives as long as the session that wrote it
    (the ``ops.store`` contract: its input fixtures must not be
    rewritten under it in that time)."""
    tag = re.sub(r"[^A-Za-z0-9]", "_", sf_dir.strip("/"))
    return os.path.join(SparkFiles.getRootDirectory(), "layout", tag)


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create the bucketed (and bucket-sorted) lineitem/orders tables for
    this scale factor if this session has not already — bucketBy requires
    the catalog (parquet files alone carry no bucket spec), so the tables
    are session-registered with external paths under the layout root;
    the names carry the sanitized ``sf_dir`` so two scale factors in one
    session never collide."""
    root = _layout_root(sf_dir)
    tag = os.path.basename(root)
    li_t, od_t = f"li_bkt_{tag}", f"od_bkt_{tag}"
    if not spark.catalog.tableExists(li_t):
        (
            t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(_N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(root, "lineitem_bkt"))
            .saveAsTable(li_t)
        )
    if not spark.catalog.tableExists(od_t):
        (
            t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(root, "orders_bkt"))
            .saveAsTable(od_t)
        )
    return li_t, od_t


@register(
    "bucketed_join",
    oracle="""
    SELECT o.o_custkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    ORDER BY revenue DESC, o_custkey
    LIMIT 20
    """,
    description=f"Shuffle-free co-located join: lineitem and orders pre-"
    f"bucketed (+ bucket-sorted) on the order key into {_N_BUCKETS} "
    "buckets — the sort-merge join reads the buckets directly with ZERO "
    "exchanges on either side (plan-pinned); top-20 customers by revenue. "
    "The oracle runs on the original unbucketed fixtures, proving the "
    "layout changed the plan, not the answer.",
)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB co-location story, plan-provable: hash-bucketing both
    fact tables on the join key at WRITE time (one shuffle, paid once at
    ingest) makes every subsequent join on that key exchange-free — the
    scan's bucket layout satisfies the join's distribution requirement,
    so the plan goes scan → (bucket-sorted, so no sort either) →
    SortMergeJoin.  The ``merge`` hint pins the SMJ strategy: at fixture
    scale AQE would broadcast the small side (hiding the demonstration),
    while at production scale both sides are far past any broadcast
    threshold and SMJ-over-buckets is exactly the plan you want.  The
    post-join aggregate pays the only exchange in the query (on the
    customer key, after the join has already reduced the data)."""
    li_t, od_t = ensure_bucketed_tables(spark, sf_dir)
    li, od = spark.table(li_t), spark.table(od_t)
    return (
        li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "o_custkey")
        .limit(20)
    )


@register(
    "partition_pruning",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') = '{_PRUNE_DAY}'
    GROUP BY 1
    """,
    description="Partition-pruned scan: events re-written partitioned by "
    f"day, then a day-equality predicate ({_PRUNE_DAY}) prunes the scan "
    "to one of ~30 directories at PLANNING time (PartitionFilters, "
    "plan-pinned) — the layout that turns time-ranged scans over 100 TB "
    "into scans of the matching slice only.  Oracle runs on the "
    "unpartitioned original: same answer, different plan.",
)
def partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout: the partition column lives in the
    directory name, so the day predicate is resolved against file paths
    during planning — pruned partitions are never listed, opened, or
    decoded (contrast with parquet row-group skipping, which still opens
    footers).  Write-if-missing: the layout is built once per scale
    factor (the ingest-time cost a real warehouse pays on append) and
    every subsequent run measures the pruned read.  The aggregate after
    the pruned scan is one partial-aggregated exchange on the type key."""
    root = os.path.join(_layout_root(sf_dir), "events_by_day")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        (
            t(spark, sf_dir, "events")
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(root)
        )
    ev = spark.read.parquet(root).filter(F.col("day") == _PRUNE_DAY)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )


#: format_roundtrip: timestamp serialization pattern (micros) for the
#: text formats; Spark parse pattern must agree digit-for-digit
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TEXT_SCHEMA = (
    "event_id long, ts_str string, user_id long, event_type string, "
    "value double, props string"
)


def ensure_text_formats(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Write the events table ONCE per (session, sf) as header'd CSV,
    as JSONL, and as ORC under the layout root (write-if-missing, same
    policy as the bucketed/partitioned layouts).  For the text formats,
    timestamps serialize as micro-precision strings so the read path
    exercises real timestamp PARSING, and ``props`` carries embedded
    JSON (commas, quotes) so the CSV path exercises quoting; the ORC
    copy keeps NATIVE types (timestamp/double columns) so the binary
    format's type fidelity is what gets attested."""
    root = _layout_root(sf_dir)
    csv_p = os.path.join(root, "events_csv")
    jsl_p = os.path.join(root, "events_jsonl")
    orc_p = os.path.join(root, "events_orc")
    # _SUCCESS markers, not bare dirs: a crashed partial write must not
    # be mistaken for a complete layout
    done = all(
        os.path.exists(os.path.join(p, "_SUCCESS"))
        for p in (csv_p, jsl_p, orc_p)
    )
    if not done:
        t(spark, sf_dir, "events").write.mode("overwrite").orc(orc_p)
        ev = t(spark, sf_dir, "events").select(
            "event_id",
            F.date_format("ts", _TS_FMT).alias("ts_str"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        ev.write.mode("overwrite").option("header", True).csv(csv_p)
        ev.write.mode("overwrite").json(jsl_p)
    return csv_p, jsl_p, orc_p


@register(
    "format_roundtrip",
    oracle="""
    WITH a AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
                   AS sum_scaled,
               CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        FROM events GROUP BY 1)
    SELECT f.fmt, a.event_type, a.n_rows, a.sum_scaled, a.max_ts_us
    FROM (SELECT 'csv' AS fmt UNION ALL SELECT 'jsonl'
          UNION ALL SELECT 'orc') f CROSS JOIN a
    """,
    description="CSV, JSONL, and ORC source-format fidelity: events "
    "round-trip through the two text formats (header'd CSV with "
    "quoting, JSON lines; explicit schemas + micro-precision timestamp "
    "parsing) and the second columnar format (ORC with native "
    "timestamp/double columns); per-type counts, integer-scaled value "
    "sums, and max event micros must equal the parquet originals for "
    "ALL THREE formats.",
)
def format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source-format surface beyond parquet, value-attested: the
    oracle aggregates the ORIGINAL parquet, so a hash match proves the
    text readers reproduced every value bit-for-bit — quoting, schema
    projection, and timestamp micros included.  Aggregates are chosen
    order-independent (counts, integer sums, max) because text files
    re-shard rows: a float sum would hash-diverge on addition order,
    the same trap the global_shuffle docs note.  Layouts are written
    once per session (write-if-missing) so steady-state cost is the
    read path — scan + partial-aggregate, one bounded shuffle each."""
    csv_p, jsl_p, orc_p = ensure_text_formats(spark, sf_dir)
    csv = (
        spark.read.schema(_TEXT_SCHEMA).option("header", True).csv(csv_p)
    )
    jsl = spark.read.schema(_TEXT_SCHEMA).json(jsl_p)
    orc = spark.read.orc(orc_p)

    def summarize(df: DataFrame, fmt: str) -> DataFrame:
        # text formats carry the timestamp as a micro-precision string;
        # ORC carries it natively
        ts = F.col("ts") if fmt == "orc" else F.to_timestamp("ts_str", _TS_FMT)
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("value") * 10000).cast("long"))
            .cast("long")
            .alias("sum_scaled"),
            F.max(F.unix_micros(ts)).cast("long").alias("max_ts_us"),
        ).select(F.lit(fmt).alias("fmt"), "*")

    return (
        summarize(csv, "csv")
        .unionAll(summarize(jsl, "jsonl"))
        .unionAll(summarize(orc, "orc"))
    )


# -- zorder_pruning -----------------------------------------------------------

#: Morton-code bit width per dimension (8+8 bits → 16-bit z codes)
_Z_BITS = 8
#: bucket counts: 64 z-buckets (z >> 10) vs 64 single-key buckets (qu >> 2)
_Z_BUCKET_DIV = 1 << (2 * _Z_BITS - 6)
_U_BUCKET_DIV = 1 << (_Z_BITS - 6)

#: probe boxes in quantized (qu, qd) space: a quadrant (z-order shines),
#: a user-band (single-key layout's home game), a time-band (z-order
#: prunes, single-key cannot)
_Z_PROBES = [
    ("quadrant", 0, 63, 0, 63),
    ("user_band", 96, 159, 0, 255),
    ("time_band", 0, 255, 128, 191),
]


def _morton_expr(qu: str, qd: str, idiv: str) -> str:
    """Bit-interleave expression for non-negative ints, generated for
    both engines from one template: ``idiv`` is the engine's integer
    division ("div" for Spark SQL, "//" for DuckDB).  Uses only integer
    div/mod/mul/add, which the two engines evaluate identically."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({qu}) {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({qd}) {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def _duck_zorder() -> str:
    probes = " UNION ALL ".join(
        f"SELECT '{p}' AS probe, {ul} AS ulo, {uh} AS uhi, "
        f"{dl} AS dlo, {dh} AS dhi"
        for p, ul, uh, dl, dh in _Z_PROBES
    )
    z = _morton_expr("qu", "qd", "//")
    return f"""
    WITH base AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        FROM events),
    bounds AS (
        SELECT min(user_id) AS umn, max(user_id) AS umx,
               min(day) AS dmn, max(day) AS dmx
        FROM base),
    q AS (
        SELECT ((user_id - umn) * {1 << _Z_BITS}) // (umx - umn + 1) AS qu,
               ((day - dmn) * {1 << _Z_BITS}) // (dmx - dmn + 1) AS qd
        FROM base CROSS JOIN bounds),
    coded AS (
        SELECT qu, qd, ({z}) // {_Z_BUCKET_DIV} AS zb,
               qu // {_U_BUCKET_DIV} AS ub
        FROM q),
    assigned AS (
        SELECT 'zorder' AS layout, zb AS bucket, qu, qd FROM coded
        UNION ALL
        SELECT 'by_user' AS layout, ub AS bucket, qu, qd FROM coded),
    stats AS (
        SELECT layout, bucket,
               min(qu) AS u0, max(qu) AS u1, min(qd) AS d0, max(qd) AS d1,
               CAST(count(*) AS BIGINT) AS n
        FROM assigned GROUP BY 1, 2),
    probes AS ({probes}),
    scanned AS (
        SELECT s.layout, p.probe,
               CAST(count(*) AS BIGINT) AS files_scanned,
               CAST(sum(s.n) AS BIGINT) AS rows_scanned
        FROM stats s JOIN probes p
          ON s.u1 >= p.ulo AND s.u0 <= p.uhi
         AND s.d1 >= p.dlo AND s.d0 <= p.dhi
        GROUP BY 1, 2),
    matched AS (
        SELECT p.probe, CAST(count(*) AS BIGINT) AS rows_matched
        FROM coded c JOIN probes p
          ON c.qu BETWEEN p.ulo AND p.uhi AND c.qd BETWEEN p.dlo AND p.dhi
        GROUP BY 1)
    SELECT s.layout, s.probe, s.files_scanned, s.rows_scanned,
           m.rows_matched
    FROM scanned s JOIN matched m ON s.probe = m.probe
    """


@register(
    "zorder_pruning",
    oracle=_duck_zorder(),
    description="Z-order (Morton-curve) clustering vs single-key sort, "
    "measured by file-skipping power: events quantized to a 256x256 "
    "(user, day) grid, bit-interleaved into 16-bit z-codes, bucketed 64 "
    "ways by z-prefix (= quadtree cells) and 64 ways by user alone; for "
    "three probe boxes the query reports buckets/rows each layout must "
    "scan under min-max pruning vs rows actually matching.  Exact "
    "integer arithmetic end to end.",
)
def zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-dimensional-clustering layout decision, quantified: a
    single-key sort gives perfect pruning on that key and NONE on any
    other; the Morton interleave spends the bits evenly so BOTH
    predicates prune (a z-prefix bucket is an axis-aligned quadtree
    cell).  This is the math behind Delta/Iceberg Z-ORDER BY — here the
    min-max statistics per bucket stand in for per-file footer stats,
    so the answer (files_scanned / rows_scanned per probe) is exactly
    what a 100 TB table would read.  Plan shape: one scan, a 1-row
    bounds aggregate broadcast back (the quantizer), a 2x stack, ONE
    shuffle into the 128-group stats aggregate (partial-agged map-side);
    probes are literal broadcasts; rows_matched is a second conditional
    aggregate over the same scan — nothing driver-side, codegen
    integer ops throughout.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("datediff(cast(ts as date), date '1970-01-01')").alias("day"),
    )
    bounds = ev.agg(
        F.min("user_id").alias("umn"),
        F.max("user_id").alias("umx"),
        F.min("day").alias("dmn"),
        F.max("day").alias("dmx"),
    )
    q = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"((user_id - umn) * {1 << _Z_BITS}) div (umx - umn + 1)").alias(
            "qu"
        ),
        F.expr(f"((day - dmn) * {1 << _Z_BITS}) div (dmx - dmn + 1)").alias(
            "qd"
        ),
    )
    z = _morton_expr("qu", "qd", "div")
    coded = q.select(
        "qu",
        "qd",
        F.expr(f"({z}) div {_Z_BUCKET_DIV}").alias("zb"),
        F.expr(f"qu div {_U_BUCKET_DIV}").alias("ub"),
    )
    assigned = coded.select(
        F.explode(
            F.array(
                F.struct(F.lit("zorder").alias("layout"), F.col("zb").alias("bucket")),
                F.struct(F.lit("by_user").alias("layout"), F.col("ub").alias("bucket")),
            )
        ).alias("a"),
        "qu",
        "qd",
    ).select("a.layout", "a.bucket", "qu", "qd")
    stats = assigned.groupBy("layout", "bucket").agg(
        F.min("qu").alias("u0"),
        F.max("qu").alias("u1"),
        F.min("qd").alias("d0"),
        F.max("qd").alias("d1"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    probes = spark.createDataFrame(
        _Z_PROBES, "probe string, ulo int, uhi int, dlo int, dhi int"
    )
    scanned = (
        stats.join(
            F.broadcast(probes),
            (F.col("u1") >= F.col("ulo"))
            & (F.col("u0") <= F.col("uhi"))
            & (F.col("d1") >= F.col("dlo"))
            & (F.col("d0") <= F.col("dhi")),
        )
        .groupBy("layout", "probe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("files_scanned"),
            F.sum("n").cast("long").alias("rows_scanned"),
        )
    )
    matched = (
        coded.join(
            F.broadcast(probes),
            F.col("qu").between(F.col("ulo"), F.col("uhi"))
            & F.col("qd").between(F.col("dlo"), F.col("dhi")),
        )
        .groupBy("probe")
        .agg(F.count(F.lit(1)).cast("long").alias("rows_matched"))
    )
    return scanned.join(matched, "probe").select(
        "layout", "probe", "files_scanned", "rows_scanned", "rows_matched"
    )


# -- small-file compaction -------------------------------------------------
#: the operational layout problem the other layout queries don't cover:
#: streaming ingest (one file per micro-batch per partition) degrades a
#: table into thousands of tiny files, and scan cost becomes file-open
#: dominated.  The fix is size-aware rewrite: read, repartition to
#: ceil(bytes / target), write.  64 fragments stands in for the
#: micro-batch debris; 4 MiB keeps the arithmetic visible at fixture
#: scale (production targets 128 MiB-1 GiB).
_FRAG_FILES = 64
_COMPACT_TARGET_BYTES = 4 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def ensure_compacted_events(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write-once: (a) a deliberately fragmented copy of events
    (_FRAG_FILES files — the streaming-debris 'before'), (b) its
    size-aware compaction (ceil(bytes / target) files)."""
    root = _layout_root(sf_dir)
    frag = os.path.join(root, "events_fragmented")
    comp = os.path.join(root, "events_compacted")
    marker = os.path.join(comp, "_SUCCESS")
    if not os.path.exists(marker):
        ev = t(spark, sf_dir, "events")
        ev.repartition(_FRAG_FILES).write.mode("overwrite").parquet(frag)
        n_out = max(1, -(-_dir_bytes(frag) // _COMPACT_TARGET_BYTES))
        (
            spark.read.parquet(frag)
            .repartition(n_out)
            .write.mode("overwrite")
            .parquet(comp)
        )
    return frag, comp


@register(
    "file_compaction",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(sum(CAST(round(100 * value) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(sum(CAST(event_id AS BIGINT) * 2654435761 % 2147483647)
               AS BIGINT) AS id_hash_sum
    FROM events
    """,
    description=f"Small-file compaction audit: events fragmented into "
    f"{_FRAG_FILES} micro-batch-debris files, then rewritten size-aware "
    f"(ceil(bytes/{_COMPACT_TARGET_BYTES // (1024 * 1024)} MiB) files); "
    "the query reads the COMPACTED copy and returns content-integrity "
    "aggregates that the oracle computes from the ORIGINAL fixture — a "
    "green row proves the rewrite is byte-equivalent in content while "
    "the plan/file counts prove it collapsed the file explosion "
    "(pytest pins before/after counts).",
)
def file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction is a pure relayout: no shuffle key, just
    ``repartition(n)`` sized from the actual byte footprint (round-
    robin — keeps output files uniform, the property HDFS/S3 scan
    planning wants).  Steady-state cost of this query is the read of
    the compacted copy (write-once cache, like every layout query).
    Production equivalent: OPTIMIZE / auto-compaction in a lakehouse
    table format; the primitive underneath is exactly this rewrite.
    Knuth-multiplicative id hash keeps the integrity sum integer-exact
    in both engines."""
    _frag, comp = ensure_compacted_events(spark, sf_dir)
    ev = spark.read.parquet(comp)
    # ts column irrelevant here; integrity over id/value content
    return ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("event_id").cast("long").alias("n_ids"),
        F.sum(F.round(100 * F.col("value")).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.sum(
            F.col("event_id").cast("long") * 2654435761 % 2147483647
        )
        .cast("long")
        .alias("id_hash_sum"),
    )


def ensure_schema_generations(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table ONCE per (session, sf) as two parquet
    'producer generations' under one directory tree: ``gen=1`` holds
    the first half of the month WITHOUT the props column (the old
    producer), ``gen=2`` the second half with the full schema.  This
    is the on-disk shape every long-lived ingest pipeline accumulates
    when producers upgrade mid-stream."""
    root = os.path.join(_layout_root(sf_dir), "events_gens")
    g1 = os.path.join(root, "gen=1")
    g2 = os.path.join(root, "gen=2")
    if not all(
        os.path.exists(os.path.join(p, "_SUCCESS")) for p in (g1, g2)
    ):
        ev = t(spark, sf_dir, "events")
        old = ev.filter(
            F.col("ts").cast("date") < F.lit(_SCHEMA_SPLIT).cast("date")
        ).drop("props")
        new = ev.filter(
            F.col("ts").cast("date") >= F.lit(_SCHEMA_SPLIT).cast("date")
        )
        old.write.mode("overwrite").parquet(g1)
        new.write.mode("overwrite").parquet(g2)
    return root


_SCHEMA_SPLIT = "2024-01-16"


@register(
    "schema_evolution_merge",
    oracle=f"""
    WITH tagged AS (
        SELECT CASE WHEN CAST(ts AS DATE) < DATE '{_SCHEMA_SPLIT}'
                    THEN 1 ELSE 2 END AS gen,
               value,
               CASE WHEN CAST(ts AS DATE) < DATE '{_SCHEMA_SPLIT}'
                    THEN NULL ELSE props END AS props
        FROM events)
    SELECT gen,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(props) AS BIGINT) AS n_props_present,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS sum_scaled
    FROM tagged GROUP BY 1 ORDER BY 1
    """,
    description="Schema-evolution read: events written as two producer "
    "generations (gen 1 lacks the props column, gen 2 carries it) and "
    "read back through ONE mergeSchema parquet scan — old files "
    "surface NULL props, new files keep theirs, and the per-generation "
    "counts plus integer-scaled value sums must equal the original "
    "fixture.  The mid-stream producer-upgrade shape every long-lived "
    "pipeline must read without a backfill.",
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema unions the file footers at PLANNING time (a
    driver-side footer read per generation — not a data pass), and the
    scan back-fills missing columns with NULL per row-group; the
    ``gen`` partition directory becomes a virtual column for free.
    The query itself is one partial-aggregable rollup over the merged
    scan.  At 100 TB the lesson is the read path: no rewrite of the
    old generation is needed — but pin mergeSchema to explicit reads
    like this one, because footer-merging EVERY query's scan costs
    planning time (the layout families' write-once cache applies)."""
    root = ensure_schema_generations(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        df.groupBy(F.col("gen").cast("int").alias("gen"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("props").cast("long").alias("n_props_present"),
            F.sum(F.round(F.col("value") * 10000).cast("long"))
            .cast("long")
            .alias("sum_scaled"),
        )
        .orderBy("gen")
    )


_CODECS = ("none", "snappy", "zstd")


def ensure_codec_copies(spark: SparkSession, sf_dir: str) -> dict:
    """Write the events table ONCE per (session, sf) under each parquet
    compression codec (write-if-missing, layout-cache policy)."""
    root = os.path.join(_layout_root(sf_dir), "events_codecs")
    paths = {c: os.path.join(root, c) for c in _CODECS}
    if not all(
        os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths.values()
    ):
        ev = t(spark, sf_dir, "events")
        for c, p in paths.items():
            ev.write.mode("overwrite").option("compression", c).parquet(p)
    return paths


@register(
    "compression_codec_audit",
    oracle="""
    WITH a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
                   AS sum_scaled,
               CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        FROM events)
    SELECT c.codec, a.n_rows, a.n_users, a.sum_scaled, a.max_ts_us
    FROM (SELECT 'none' AS codec UNION ALL SELECT 'snappy'
          UNION ALL SELECT 'zstd') c
    CROSS JOIN a ORDER BY c.codec
    """,
    description="Parquet compression-codec fidelity audit: events "
    "rewritten under none/snappy/zstd and read back — per codec, row "
    "count, distinct users, integer-scaled value sum, and max "
    "timestamp must be byte-identical to the original.  The codec "
    "choice is a pure size/CPU trade (pytest pins bytes(none) > "
    "bytes(snappy) > bytes(zstd) on this data); a 100 TB lake picks "
    "zstd for cold data and snappy for hot paths knowing content is "
    "invariant — which is exactly what this row proves.",
)
def compression_codec_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once layout cache; the audit itself is three independent
    column-pruned scans (one per codec) each collapsing to a 1-row
    aggregate — embarrassingly parallel, no joins, no windows.
    Parquet decodes codec-per-column-chunk, so mixed-codec files (a
    migration in flight) read just as transparently."""
    paths = ensure_codec_copies(spark, sf_dir)
    parts = []
    for codec in _CODECS:
        df = spark.read.parquet(paths[codec])
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count_distinct("user_id").cast("long").alias("n_users"),
                F.sum(F.round(F.col("value") * 10000).cast("long"))
                .cast("long")
                .alias("sum_scaled"),
                F.max(F.unix_micros("ts")).cast("long").alias("max_ts_us"),
            ).select(F.lit(codec).alias("codec"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("codec")


#: 1-in-N deterministic corruption rate for the malformed-CSV feed
_BADCSV_MOD = 40
_BADCSV_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def ensure_malformed_csv(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table ONCE per (session, sf) as a headerless
    CSV feed in which every hash32(event_id) % 40 == 0 row carries a
    non-numeric token in the value field — the deterministic stand-in
    for the malformed lines every real CSV feed contains."""
    from mqtt2clickhouse_spark.ops.dedup import hash32

    root = os.path.join(_layout_root(sf_dir), "events_badcsv")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        ev = t(spark, sf_dir, "events")
        bad = hash32(F.col("event_id").cast("string")) % _BADCSV_MOD == 0
        line = F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.date_format("ts", _BADCSV_TS_FMT),
            F.col("user_id").cast("string"),
            "event_type",
            F.when(bad, F.lit("NOT_A_NUMBER")).otherwise(
                F.col("value").cast("string")
            ),
        )
        ev.select(line.alias("value")).write.mode("overwrite").text(root)
    return root


@register(
    "csv_malformed_recovery",
    oracle=f"""
    WITH flagged AS (
        SELECT value,
               CASE WHEN {_DUCK_HASH32.format(
                   x="CAST(event_id AS VARCHAR)")} % {_BADCSV_MOD} = 0
                    THEN 1 ELSE 0 END AS bad
        FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - sum(bad) AS BIGINT) AS n_good,
           CAST(sum(bad) AS BIGINT) AS n_corrupt,
           round(CAST(sum(bad) AS DOUBLE) / count(*), 4) AS corrupt_rate,
           CAST(sum(CASE WHEN bad = 0
                         THEN CAST(round(100 * value) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS sum_cents_good
    FROM flagged
    """,
    description="Malformed-record recovery on a CSV feed: a headerless "
    "events CSV with a deterministic 1-in-40 rows carrying an "
    "unparseable value token, read under PERMISSIVE mode with a "
    "corrupt-record column — good rows parse, bad rows land intact in "
    "the quarantine column instead of killing the job (the batch-side "
    "twin of the ingest dead-letter path), and the good-row value sum "
    "must equal the fixture's clean-row sum exactly.",
)
def csv_malformed_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE parsing is per-row and map-only: the scan emits
    typed columns plus ``_corrupt`` (NULL for clean rows, the raw line
    for bad ones), so quarantining costs zero extra passes and the
    report is ONE conditional aggregate.  columnNameOfCorruptRecord
    requires the corrupt column declared in the schema, and counting
    it in the same pass as the data columns requires the cache-free
    single-select below (Spark forbids referencing only the corrupt
    column after projection).  At 100 TB the feed reads with the same
    task parallelism as any text scan; bad lines re-route to the
    dead-letter table exactly like the MQTT sink's invalid payloads."""
    root = ensure_malformed_csv(spark, sf_dir)
    schema = (
        "event_id LONG, ts STRING, user_id LONG, "
        "event_type STRING, value DOUBLE, _corrupt STRING"
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(root)
    )
    bad = F.col("_corrupt").isNotNull()
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(bad, 0).otherwise(1)).cast("long").alias("n_good"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.round(
            F.sum(F.when(bad, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("corrupt_rate"),
        F.sum(
            F.when(bad, 0).otherwise(
                F.round(100 * F.col("value")).cast("long")
            )
        )
        .cast("long")
        .alias("sum_cents_good"),
    )


#: the user to erase (mid-range id exists at every sf)
_GDPR_USER = 7


def ensure_gdpr_layouts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Day-partitioned events layout plus its copy-on-write rewrite
    with one user erased (write-if-missing, layout-cache policy)."""
    before = os.path.join(_layout_root(sf_dir), "events_byday")
    after = os.path.join(_layout_root(sf_dir), "events_byday_erased")
    if not os.path.exists(os.path.join(before, "_SUCCESS")):
        ev = t(spark, sf_dir, "events").withColumn(
            "d", F.col("ts").cast("date")
        )
        ev.write.mode("overwrite").partitionBy("d").parquet(before)
    if not os.path.exists(os.path.join(after, "_SUCCESS")):
        src = spark.read.parquet(before)
        src.filter(F.col("user_id") != _GDPR_USER).write.mode(
            "overwrite"
        ).partitionBy("d").parquet(after)
    return before, after


@register(
    "gdpr_delete_rewrite",
    oracle=f"""
    WITH a AS (
        SELECT CAST(count(*) AS BIGINT) AS rows_before,
               CAST(count(*) FILTER (WHERE user_id = {_GDPR_USER})
                    AS BIGINT) AS rows_deleted,
               CAST(count(DISTINCT CASE WHEN user_id = {_GDPR_USER}
                                        THEN CAST(ts AS DATE) END)
                    AS BIGINT) AS days_touched,
               CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS days_total,
               CAST(sum(CASE WHEN user_id <> {_GDPR_USER}
                             THEN CAST(round(value * 10000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum_scaled_after
        FROM events)
    SELECT rows_before, rows_before - rows_deleted AS rows_after,
           rows_deleted, days_touched, days_total, sum_scaled_after,
           CAST(0 AS BIGINT) AS residual_rows
    FROM a
    """,
    description=f"Right-to-be-forgotten rewrite audit: the "
    "day-partitioned events layout rewritten copy-on-write with user "
    f"{_GDPR_USER} erased — before/after row counts, surviving value "
    "sum, residual rows for the erased user (must be 0), and the "
    "partition blast radius (days containing the user vs total).  "
    "Honest scale finding baked in: an active user appears in ~every "
    "daily partition, so user-keyed deletes rewrite the whole table "
    "unless the layout also buckets by user — the reason deletion-"
    "heavy lakes pair date partitioning with user bucketing or "
    "deletion vectors.",
)
def gdpr_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite itself is the layout-cached copy-on-write pass
    (filter + partitioned write — at scale, dynamic partition
    overwrite limited to days_touched); the audit reads BOTH layouts:
    counts and integer-scaled sums from the erased copy, residual =
    rows still matching the user (a failed rewrite shows up as a
    nonzero column, not a missing assertion), blast radius from the
    original.  All columns reconcile against the un-partitioned
    fixture in the oracle."""
    before, after = ensure_gdpr_layouts(spark, sf_dir)
    b = spark.read.parquet(before)
    a = spark.read.parquet(after)
    bstats = b.agg(
        F.count(F.lit(1)).cast("long").alias("rows_before"),
        F.count_distinct(
            F.when(F.col("user_id") == _GDPR_USER, F.col("d"))
        )
        .cast("long")
        .alias("days_touched"),
        F.count_distinct("d").cast("long").alias("days_total"),
    )
    astats = a.agg(
        F.count(F.lit(1)).cast("long").alias("rows_after"),
        F.sum(F.round(F.col("value") * 10000).cast("long"))
        .cast("long")
        .alias("sum_scaled_after"),
        F.sum(F.when(F.col("user_id") == _GDPR_USER, 1).otherwise(0))
        .cast("long")
        .alias("residual_rows"),
    )
    return bstats.crossJoin(astats).select(
        "rows_before",
        "rows_after",
        (F.col("rows_before") - F.col("rows_after"))
        .cast("long")
        .alias("rows_deleted"),
        "days_touched",
        "days_total",
        "sum_scaled_after",
        "residual_rows",
    )
