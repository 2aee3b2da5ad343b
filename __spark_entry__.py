"""Query-registry adapter.

``entry(spark)`` runs the flagship query over ``/root/testdata/sf0.001``
as a smoke check.  ``queries()[name]`` is a registered query (a function
of the session and a table directory) and ``oracle_sql()[name]`` its
DuckDB oracle: ``tests/test_registry.py`` runs each query over the test
tables (sf0.001 unless ``SPARK_GRAFT_SF_DIR`` names another directory)
and compares columns, row count and order-insensitive values with the
oracle's.

The real surface lives in ``parquet_converters_spark.queries``; this
module only adapts it to that shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_converters_spark.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full SONATA adjacency-index pipeline
    (gaps-and-islands run-length grouping -> global range numbering ->
    node-major ordering) over events-as-edges at sf0.001."""
    from parquet_converters_spark.queries import adjacency_range_to_edge

    return adjacency_range_to_edge(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    # an entry's sql may be a zero-arg builder (lazy oracle: building
    # it needs the tests/ fixture corpus, so it must not run at
    # import time); resolve here, drop entries that resolve to None
    out = {}
    for name, (_fn, sql) in QUERIES.items():
        if callable(sql):
            sql = sql()
        if sql is not None:
            out[name] = sql
    return out
