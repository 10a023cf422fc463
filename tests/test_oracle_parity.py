"""Local stand-in for the driver's correctness gate: run every declared
query on Spark AND its DuckDB oracle at sf0.01, compare row count, column
names/order-insensitive sorted values.

Float columns are compared EXACTLY (the driver hashes values) — queries
are designed to make that possible (round-before-output/rank, decimal-
free arithmetic, deterministic ties).  A failure here predicts a
CORRECTNESS hash mismatch.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from mqtt2clickhouse_spark.queries import QUERIES
from mqtt2clickhouse_spark.tables import TABLES

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _normalize(df):
    """pandas → list of sorted row tuples with canonical value repr.

    DTYPE-SENSITIVE on purpose: the driver's value hash distinguishes
    int64 123 from float64 123.0 (DuckDB HUGEINT sums materialize as
    float64 — the round-1 corpus_prep/hash_split/datetime_math failures),
    so ints and floats canonicalize to tagged tuples that never compare
    equal across types.
    """
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, bool) or isinstance(v, np.bool_):
            return ("b", bool(v))
        if isinstance(v, (float, np.floating)):
            # Sign-bit-sensitive: the driver's value hash distinguishes
            # -0.0 from +0.0 (the graph_modularity r7 red row), and
            # -0.0 == 0.0 in Python would hide it here.
            return ("f", float(v), math.copysign(1.0, float(v)))
        if isinstance(v, (int, np.integer)):
            return ("i", int(v))
        if hasattr(v, "isoformat"):  # datetime/date
            return v.isoformat()
        if isinstance(v, str):
            return v
        return str(v)

    rows = [tuple(canon(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


ORACLE_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    sdf = spec.spark_fn(spark, SF_DIR).toPandas()
    odf = duck.execute(spec.oracle).fetchdf()

    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column names differ: spark={sorted(sdf.columns)} "
        f"oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"

    srows, orows = _normalize(sdf), _normalize(odf)
    n_bad = sum(1 for a, b in zip(srows, orows) if a != b)
    if n_bad:
        examples = [(a, b) for a, b in zip(srows, orows) if a != b][:5]
        raise AssertionError(f"{name}: {n_bad}/{len(srows)} rows differ; e.g. {examples}")


def test_canon_distinguishes_signed_zero():
    """The driver's value hash distinguishes -0.0 from +0.0; the local
    canon must too, or a signed-zero oracle mismatch reaches the driver
    unseen (the graph_modularity r7 red row)."""
    import pandas as pd

    pos = _normalize(pd.DataFrame({"x": [0.0]}))
    neg = _normalize(pd.DataFrame({"x": [-0.0]}))
    assert pos != neg


def test_all_queries_declared():
    """Every registered query is exposed through __spark_entry__."""
    import __spark_entry__ as e

    assert set(e.queries()) == set(QUERIES)
    assert set(e.oracle_sql()) == {n for n, s in QUERIES.items() if s.oracle}


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_query_catalog_is_current():
    """QUERIES.md must be regenerated whenever the registry changes."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "gen_query_catalog",
        pathlib.Path(__file__).parent.parent / "scripts" / "gen_query_catalog.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    expected = mod.render()
    actual = (pathlib.Path(__file__).parent.parent / "QUERIES.md").read_text()
    assert actual == expected, (
        "QUERIES.md is stale — run: python scripts/gen_query_catalog.py > QUERIES.md"
    )
