"""Demux sink tests: routing, create-on-first-write, positional schema
enforcement, dead-letter (FIXTURES.md §A.4 / db/db.go:147-243)."""

import pytest
from pyspark.sql import functions as F

from mqtt2clickhouse_spark.ingest.parse import parse_messages
from mqtt2clickhouse_spark.ingest.sink import DemuxSink, SchemaRegistry, check_valid


def test_check_valid_positional():
    """db/db.go:208-223 — count + per-index type; names not compared."""
    existing = ["String", "String", "Float64"]
    assert check_valid(existing, ["String", "String", "Float64"])
    assert not check_valid(existing, ["String", "String", "String"])  # type @2
    assert not check_valid(existing, ["String", "String"])  # count


def test_registry_fixes_type_forever():
    reg = SchemaRegistry()
    assert reg.accepts("temp_out", "Float64")
    reg.register("temp_out", "Float64")
    assert reg.accepts("temp_out", "Float64")
    assert not reg.accepts("temp_out", "String")  # no schema evolution


MESSAGES = [
    # temp_out: numeric first → Float64 table
    ("/c0/dev1/out/sensors/temp_out", '{"value": 27.8}', 0),
    ("/c0/dev2/out/sensors/temp_out", '{"value": 21.5}', 1),
    # state: string first → String table
    ("/c0/dev1/out/sensors/state", '{"value": "on"}', 2),
    # late string reading to the Float64 table → schema mismatch
    ("/c0/dev1/out/sensors/temp_out", '{"value": "hot"}', 3),
    # parse-level rejects
    ("bad-topic", '{"value": 1}', 4),
    ("/c0/dev1/out/sensors/x", "not json", 5),
]


@pytest.mark.parametrize("layout", ["partitioned", "per_table"])
def test_end_to_end_routing(spark, tmp_path, layout):
    df = spark.createDataFrame(MESSAGES, "topic string, payload string, seq long")
    valid, dead = parse_messages(df.drop("seq"))
    sink = DemuxSink(spark, str(tmp_path / layout), layout=layout)
    stats = sink.write_batch(valid, dead)
    assert stats["accepted"] == 3
    assert stats["dead_letter"] == 3  # 2 parse rejects + 1 schema mismatch
    assert sink.list_tables() == ["state", "temp_out"]
    assert sink.table_schema("temp_out") == ["String", "String", "Float64"]
    assert sink.table_schema("state") == ["String", "String", "String"]

    temp = sink.read_table("temp_out")
    assert dict(temp.dtypes)["value"] == "double"
    vals = sorted(r["value"] for r in temp.collect())
    assert vals == [21.5, 27.8]
    state = sink.read_table("state")
    assert dict(state.dtypes)["value"] == "string"
    assert [r["value"] for r in state.collect()] == ["on"]


def test_new_table_seq_decides_type(spark, tmp_path):
    """Within one batch, the lowest-seq row fixes a new table's schema
    (stand-in for the reference's arrival order)."""
    rows = [
        ("/c/d/out/s/mixed", '{"value": "txt"}', 10),
        ("/c/d/out/s/mixed", '{"value": 5.0}', 20),
    ]
    df = spark.createDataFrame(rows, "topic string, payload string, seq long")
    sink = DemuxSink(spark, str(tmp_path / "w"))
    from mqtt2clickhouse_spark.ingest.parse import parse_messages_single

    classified = parse_messages_single(df)
    v = classified.filter(F.col("reject_reason").isNull()).select(
        "table_name", "client", "device", "value_num", "value_str", "value_type", "seq"
    )
    stats = sink.write_batch(v)
    assert sink.table_schema("mixed") == ["String", "String", "String"]
    assert stats["accepted"] == 1
    assert stats["dead_letter"] == 1


def test_registry_persists_across_instances(spark, tmp_path):
    w = str(tmp_path / "wh")
    df = spark.createDataFrame(
        [("/c/d/out/s/t1", '{"value": 1.0}')], "topic string, payload string"
    )
    valid, dead = parse_messages(df)
    DemuxSink(spark, w).write_batch(valid, dead)
    # a fresh sink instance (≈ restart) reloads schemas from storage
    sink2 = DemuxSink(spark, w)
    assert sink2.table_schema("t1") == ["String", "String", "Float64"]
    assert not sink2.registry.accepts("t1", "String")


def test_registry_is_saved_before_the_accepted_write(spark, tmp_path, monkeypatch):
    """DDL before INSERT (db/db.go:226-243, then :246-271).  A death
    between the registry save and the write may leave a registered table
    with no rows, never rows of a table the registry lacks: otherwise the
    next batch could register that table with the other type, and one
    partition would hold both."""
    import os

    w = str(tmp_path / "wh")
    real_save = SchemaRegistry.save
    saves = []

    def dying_save(self, path):
        saves.append(path)
        if len(saves) == 1:
            raise RuntimeError("process died during the registry save")
        real_save(self, path)

    monkeypatch.setattr(SchemaRegistry, "save", dying_save)

    def batch(payload):
        df = spark.createDataFrame(
            [("/c/d/out/s/t1", payload)], "topic string, payload string"
        )
        return parse_messages(df)

    with pytest.raises(RuntimeError, match="registry save"):
        DemuxSink(spark, w).write_batch(*batch('{"value": 1.0}'))
    DemuxSink(spark, w).write_batch(*batch('{"value": "on"}'))  # a restart
    types = (
        spark.read.parquet(os.path.join(w, "readings"))
        .filter(F.col("table_name") == "t1")
        .select("value_type")
        .distinct()
        .collect()
    )
    assert [r["value_type"] for r in types] == ["String"]


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    """Many small appended batches → compact → fewer files, same rows."""
    import json as _json

    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")
    sink = DemuxSink(spark, wh)
    for batch in range(5):  # 5 appends × multiple tasks = many files
        msgs = [
            (
                f"/c0/dev{i % 2}/out/sensors/s{i % 3}",
                _json.dumps({"value": float(batch * 100 + i)}),
            )
            for i in range(30)
        ]
        df = spark.createDataFrame(msgs, "topic string, payload string")
        sink.foreach_batch(df, batch)

    before = sink.read_table("s0").count()
    stats = sink.compact(target_rows_per_file=1_000_000)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == 150
    assert sink.read_table("s0").count() == before
    # values intact after rewrite
    total = (
        spark.read.parquet(f"{wh}/readings")
        .agg(F.sum("value_num").alias("s"))
        .collect()[0]["s"]
    )
    assert total == sum(b * 100 + i for b in range(5) for i in range(30))


def test_orc_warehouse_roundtrip(spark, tmp_path):
    """file_format='orc': same demux semantics on the other columnar format."""
    import json as _json

    sink = DemuxSink(spark, str(tmp_path / "wh"), file_format="orc")
    msgs = [
        ("/c/d/out/sensors/temp_out", _json.dumps({"value": 1.5})),
        ("/c/d/out/sensors/temp_out", _json.dumps({"value": "late-string"})),
        ("/c/d/out/sensors/mode", _json.dumps({"value": "eco"})),
    ]
    df = spark.createDataFrame(msgs, "topic string, payload string")
    sink.foreach_batch(df, 0)
    assert sink.table_schema("temp_out") == ["String", "String", "Float64"]
    assert sink.read_table("temp_out").collect()[0]["value"] == 1.5
    assert sink.read_table("mode").collect()[0]["value"] == "eco"
    # the string reading for the Float64 table went to dead letter (orc too)
    dead = spark.read.format("orc").load(str(tmp_path / "wh" / "_dead_letter"))
    assert dead.count() == 1
    stats = sink.compact(target_rows_per_file=1000)
    assert stats["rows"] == 2 and stats["files_after"] >= 1

    # torn-registry recovery on the orc format too: the per-file type
    # probe takes the pyarrow.orc branch (one stripe of one file per
    # table), and the recovered registry matches the pre-tear one
    import os

    reg_path = os.path.join(str(tmp_path / "wh"), "_registry.json")
    pretear = _json.load(open(reg_path))
    full = open(reg_path).read()
    with open(reg_path, "w") as f:
        f.write(full[: len(full) // 2])
    fresh = DemuxSink(spark, str(tmp_path / "wh"), file_format="orc")
    assert fresh.registry.schemas == pretear
    assert _json.load(open(reg_path)) == pretear


def test_accepted_write_splits_hot_table_rebalance(spark, tmp_path):
    """Sink-skew probe finding (r12, VERDICT r11 ask #3b): the demux
    write clusters the batch by table_name so file count per batch is
    ~#tables — but a plain ``repartition("table_name")`` puts a hot
    sensor's 90% of rows into ONE writer task, the single-core
    bottleneck at the 100 TB feed.  The write must use an AQE
    REBALANCE so oversized table partitions split by bytes (and tiny
    cold tables coalesce): with a small advisory size, a hot table
    writes >1 file while every row still lands in the right table."""
    import glob

    from pyspark.sql import functions as F

    from mqtt2clickhouse_spark.ingest.parse import parse_messages
    from mqtt2clickhouse_spark.ingest.sink import DemuxSink

    old = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512KB")
    try:
        n = 200_000
        msgs = spark.range(n).select(
            F.concat(
                F.lit("/c0/d0/s/"),
                F.when(F.col("id") % 40 != 0, F.lit("hot_table")).otherwise(
                    F.concat(F.lit("cold"), (F.col("id") % 20).cast("string"))
                ),
            ).alias("topic"),
            F.concat(
                F.lit('{"value": '), F.col("id").cast("string"), F.lit("}")
            ).alias("payload"),
            F.col("id").alias("seq"),
        )
        valid, dead = parse_messages(msgs)
        sink = DemuxSink(spark, str(tmp_path / "wh"))
        res = sink.write_batch(valid, dead)
        assert res["accepted"] == n

        hot_files = glob.glob(
            str(tmp_path / "wh" / "readings" / "table_name=hot_table" / "*.parquet")
        )
        assert len(hot_files) > 1, (
            "hot table written by a single task — the demux write is "
            "not skew-splitting"
        )
        # correctness: every row in the right table, nothing lost
        readings = spark.read.parquet(str(tmp_path / "wh" / "readings"))
        assert readings.count() == n
        assert (
            readings.filter(F.col("table_name") == "hot_table").count()
            == n - n // 40
        )
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", old)


def test_many_tables_batch_keeps_one_file_per_table(spark, tmp_path):
    """The partitioned layout's 10k-sensor contract (probed at 10k in
    r12: 1.00 files/table/batch, 45k rows/s steady-state): the
    rebalance write must keep file count ~#tables even when the batch
    spans MANY tables — AQE coalesces the small table partitions into
    few writer tasks, but each table still lands in exactly one file
    per batch (no tasks x tables small-file explosion)."""
    import glob

    from pyspark.sql import functions as F

    from mqtt2clickhouse_spark.ingest.parse import parse_messages
    from mqtt2clickhouse_spark.ingest.sink import DemuxSink

    n_tables, rows_per = 500, 20
    msgs = spark.range(n_tables * rows_per).select(
        F.concat(
            F.lit("/c0/d0/s/t"), (F.col("id") % n_tables).cast("string")
        ).alias("topic"),
        F.concat(
            F.lit('{"value": '), F.col("id").cast("string"), F.lit("}")
        ).alias("payload"),
        F.col("id").alias("seq"),
    )
    valid, dead = parse_messages(msgs)
    sink = DemuxSink(spark, str(tmp_path / "wh"))
    res = sink.write_batch(valid, dead)
    assert res["new_tables"] == n_tables
    dirs = glob.glob(str(tmp_path / "wh" / "readings" / "table_name=*"))
    files = glob.glob(
        str(tmp_path / "wh" / "readings" / "table_name=*" / "*.parquet")
    )
    assert len(dirs) == n_tables
    assert len(files) <= n_tables * 2, (
        f"small-file explosion: {len(files)} files for {n_tables} tables"
    )


def test_clean_batch_runs_census_and_accepted_write_only(spark, tmp_path):
    """A multi-table batch with no rejects costs one census and the
    accepted write: no per-batch registry frame or join, no reject
    count, no dead-letter pass.  So at most 5 Spark jobs, and no
    ``_dead_letter`` directory appears."""
    import json as _json
    import os

    from mqtt2clickhouse_spark.ingest.sink import DEAD_LETTER_TABLE

    msgs = [
        (
            f"/c0/dev{i % 2}/out/sensors/s{i % 12}",
            _json.dumps({"value": "on" if i % 12 == 0 else float(i)}),
            i,
        )
        for i in range(240)
    ]
    df = spark.createDataFrame(msgs, "topic string, payload string, seq long")
    wh = tmp_path / "wh"
    sink = DemuxSink(spark, str(wh))
    sc = spark.sparkContext
    sc.setJobGroup("clean_batch", "one clean foreach_batch")
    try:
        sink.foreach_batch(df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("clean_batch")
    assert 1 <= len(jobs) <= 5, f"{len(jobs)} Spark jobs for one clean batch"
    assert not os.path.exists(wh / DEAD_LETTER_TABLE)
    assert sink.list_tables() == sorted(f"s{i}" for i in range(12))
    assert sink.table_schema("s0") == ["String", "String", "String"]
    assert sink.read_table("s0").count() == 20
    assert spark.read.parquet(str(wh / "readings")).count() == 240


def test_routing_matches_reference_model(spark):
    """Model-based fuzz of the routing semantics against a pure-Python
    reference model (db/db.go:147-243 as SURVEY §1.4 specifies them):
    across random multi-batch histories — unknown tables fixed by the
    lowest-seq row's type (C4), later rows accepted iff the positional
    type matches (C5), everything else dead-lettered — write_batch's
    counters, each table's registered type, and each table's row count
    must equal the model's.  The deterministic tests pin single
    scenarios; this pins the SEMANTICS under arbitrary interleavings
    (e.g. a new table seeing both types across several batches, type
    flips between batches, empty batches)."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row = st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["Float64", "String"]),
    )
    batches = st.lists(
        st.lists(row, min_size=0, max_size=10), min_size=1, max_size=3
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(batches=batches)
    def run(batches):
        # per-example warehouse, removed on every exit path (ADVICE r13:
        # mkdtemp without cleanup accumulated parquet garbage in /tmp
        # across suite runs)
        wh = tempfile.mkdtemp(prefix="sinkmodel_")
        try:
            _run_example(batches, wh)
        finally:
            import shutil

            shutil.rmtree(wh, ignore_errors=True)

    def _run_example(batches, wh):
        sink = DemuxSink(spark, wh)
        model_reg: dict[str, str] = {}
        model_rows: dict[str, int] = {}
        seq = 0
        for batch in batches:
            rows, types_in_batch = [], {}
            for table, vtype in batch:
                seq += 1
                rows.append(
                    (
                        table,
                        "c",
                        "d",
                        float(seq) if vtype == "Float64" else None,
                        None if vtype == "Float64" else f"s{seq}",
                        vtype,
                        seq,
                    )
                )
                # model C4: first (lowest-seq) row of an unknown table
                # fixes its type for the whole history
                if table not in model_reg and table not in types_in_batch:
                    types_in_batch[table] = vtype
            new_tables = {
                t: v for t, v in types_in_batch.items() if t not in model_reg
            }
            model_reg.update(new_tables)
            accepted = sum(
                1 for table, vtype in batch if model_reg.get(table) == vtype
            )
            dead = len(batch) - accepted
            for table, vtype in batch:
                if model_reg.get(table) == vtype:
                    model_rows[table] = model_rows.get(table, 0) + 1

            valid = spark.createDataFrame(
                rows,
                "table_name string, client string, device string, "
                "value_num double, value_str string, value_type string, "
                "seq long",
            )
            res = sink.write_batch(valid)
            assert res == {
                "accepted": accepted,
                "dead_letter": dead,
                "new_tables": len(new_tables),
            }, (res, batch, model_reg)

        # a fresh sink (registry reloaded from disk) agrees with the
        # model on every table's type and row count
        fresh = DemuxSink(spark, wh)
        assert fresh.list_tables() == sorted(model_reg)
        for table, vtype in model_reg.items():
            assert fresh.table_schema(table) == ["String", "String", vtype]
            assert fresh.read_table(table).count() == model_rows.get(table, 0)

    run()


def test_rebuild_matches_pretear_registry_under_fuzz(spark):
    """Property fuzz of the r14 recovery path: across random multi-batch
    histories and random registry-file corruptions (truncation anywhere,
    including to empty), a fresh DemuxSink over the torn warehouse must
    rebuild EXACTLY the pre-tear registry — every registered table has
    at least one accepted row (C4 registers from the batch's winning
    row, which is itself accepted), so the partition listing + one
    footer read per table recovers the full map.  The deterministic
    tests pin single scenarios; this pins the recovery across arbitrary
    write histories."""
    import json as _json
    import os
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row = st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["Float64", "String"]),
    )
    batches = st.lists(
        st.lists(row, min_size=1, max_size=8), min_size=1, max_size=3
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(batches=batches, cut=st.floats(min_value=0.0, max_value=0.99))
    def run(batches, cut):
        wh = tempfile.mkdtemp(prefix="sinkrebuild_")
        try:
            sink = DemuxSink(spark, wh)
            seq = 0
            for batch in batches:
                rows = []
                for table, vtype in batch:
                    seq += 1
                    rows.append(
                        (
                            table,
                            "c",
                            "d",
                            float(seq) if vtype == "Float64" else None,
                            None if vtype == "Float64" else f"s{seq}",
                            vtype,
                            seq,
                        )
                    )
                sink.write_batch(
                    spark.createDataFrame(
                        rows,
                        "table_name string, client string, device string, "
                        "value_num double, value_str string, "
                        "value_type string, seq long",
                    )
                )
            reg_path = os.path.join(wh, "_registry.json")
            pretear = _json.load(open(reg_path))
            full = open(reg_path).read()
            with open(reg_path, "w") as f:
                f.write(full[: int(len(full) * cut)])

            fresh = DemuxSink(spark, wh)  # recovery path
            assert fresh.registry.schemas == pretear, (
                fresh.registry.schemas, pretear, batches, cut,
            )
            assert _json.load(open(reg_path)) == pretear, (
                "recovered registry was not re-persisted"
            )
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    run()
