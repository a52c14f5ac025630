"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``naive_query_engine_spark.queries.QUERIES`` — the registry
where every operator from SURVEY.md §2 (plus the pipeline extensions) is
declared once as (Spark fn, DuckDB oracle SQL).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from naive_query_engine_spark import queries as _queries  # noqa: E402
from naive_query_engine_spark.rotation import ordered_names as _ordered_names  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return _queries.QUERIES["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every implemented query/operator, keyed by SURVEY §2-derived name.

    Dict order is the driver's correctness-sample order (it checks the
    first 50 entries): ``rotation.ordered_names()`` puts this round's
    never-yet-sampled flagship window first — see rotation.py.
    """
    return {name: _queries.QUERIES[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; every registered query has one."""
    return {name: _queries.QUERIES[name].oracle for name in _ordered_names()}
