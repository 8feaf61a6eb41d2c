"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``duckdb_vss_spark.queries``; this module is a
thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_vss_spark import queries as _q  # noqa: E402
import duckdb_vss_spark.queries_pipeline  # noqa: E402,F401  (registers pipeline queries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: lateral top-k vector join (reference entry point C) on
    sf0.001 — every 50th embedding as a query, 5 nearest neighbors each."""
    return _q.q_knn_join_lateral(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
