"""The local correctness gate: every registered query vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS check (row-count + schema + order-
insensitive values) at sf0.01.  Exact comparison — no float tolerance —
because every query is engineered to be hash-stable (see queries.py
docstring).
"""

from __future__ import annotations

import pytest

from naive_query_engine_spark.queries import QUERIES

from .conftest import SF_ORACLE, assert_frames_match


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF_ORACLE)
    spark_pdf = sdf.toPandas()
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)
