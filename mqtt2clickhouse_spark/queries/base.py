"""Query registry shared by __spark_entry__, tests, and bench."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mqtt2clickhouse_spark.tables import load_table


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    description: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, description: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name, _tuned(fn), oracle, description)
        return fn

    return deco


def _tuned(fn):
    """Wrap a query so it runs with oracle-compatible session confs even
    when the driver hands us its own SparkSession."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        # correctness: DuckDB timestamps are UTC-naive
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # performance (all runtime-settable, harmless if already set):
        # AQE re-plans at runtime; Arrow feeds the pandas-UDF paths
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
