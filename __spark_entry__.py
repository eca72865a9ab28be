"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query on /root/testdata/sf0.001.
queries()     — one callable per implemented operator (SURVEY.md §2).
oracle_sql()  — DuckDB-equivalent SQL per query; geometry is derived
                from the testdata tables with expression text shared
                verbatim between Spark and DuckDB (bit-identical doubles).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spatialjoin import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-polygon spatial join (supplier quads contain
    customer points) through the full engine — JVM cell covering +
    broadcast cell equi-join + reference-point dedup + the unrolled
    JVM point-in-polygon refine (the quads share one vertex count)."""
    return Q.q_pip_quad_contains(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
