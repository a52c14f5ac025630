"""Shared fixtures: one SparkSession per test run + DuckDB oracle harness."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from naive_query_engine_spark import get_spark  # noqa: E402
from naive_query_engine_spark.sources import TPCH_TABLES  # noqa: E402

SF_SMOKE = os.environ.get("SF_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SF_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="nqes-tests")
    yield s


@pytest.fixture
def uncoalesced(spark):
    """AQE partition coalescing off for one test, so a small shuffle keeps
    all ``spark.sql.shuffle.partitions`` partitions."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form mirroring the driver's compare: columns sorted by name,
    rows sorted by all columns, datetimes/bytes rendered stably."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: v.hex()
                if isinstance(v, (bytes, bytearray))
                else ("<NULL>" if v is None else str(v))
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(oracle_pdf)} (oracle)"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    )
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    # dtype kinds must agree (the driver compares schemas too)
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        assert ka == kb or {ka, kb} <= {"i", "u"}, (
            f"{name}.{c}: dtype kind {a[c].dtype} (spark) vs {b[c].dtype} (oracle)"
        )
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True, obj=name)
