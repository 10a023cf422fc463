"""Session-scoped materialization of derived tables.

A derived table (trade edges, LPA labels, co-purchase edges, k-means
pivots, shingles, MinHash signatures) is built once per SparkContext
and read back as parquet by every consumer in that session.  It lives
under the context's SparkFiles root, which Spark creates per context
and deletes on ``stop()`` and at process exit, so nothing outlives the
session.

Contract: a derived table lives as long as its SparkContext, and its
input tables must not be rewritten under it in that time.
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession


def materialized(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Read the derived table ``key`` (kind, sf_dir and params; every
    non-alphanumeric character becomes ``_``), writing ``build()``
    first if this session has not.  A crashed partial write has no
    ``_SUCCESS`` marker (Spark writes it last), so the next call
    rebuilds it."""
    name = re.sub(r"[^A-Za-z0-9]", "_", key)
    path = os.path.join(SparkFiles.getRootDirectory(), "derived", name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
