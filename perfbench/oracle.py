"""DuckDB oracle for the benchmark's operations.

Results are compared with the test suite's own rules
(``tests/conftest.py``: columns sorted by name, rows sorted, exact values),
outside every timer.  Each oracle query runs once per process.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from naive_query_engine_spark.queries import QUERIES
from naive_query_engine_spark.sources import TPCH_TABLES
from tests.conftest import assert_frames_match


class Oracle:
    def __init__(self, sf_dir: str, scratch_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{os.path.join(scratch_dir, 'duckdb')}'")
        self.con.execute("SET threads = 2")
        for t in TPCH_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._answers: dict[str, pd.DataFrame] = {}

    def answer(self, name: str) -> pd.DataFrame:
        if name not in self._answers:
            self._answers[name] = self.con.execute(QUERIES[name].oracle).fetchdf()
        return self._answers[name]

    def check_query(self, name: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` equals the registered oracle of ``name``,
        else the mismatch."""
        try:
            assert_frames_match(got, self.answer(name), name)
        except AssertionError as e:
            return str(e)[:500]
        return None

    def check_sql(self, sql: str, got: pd.DataFrame, name: str) -> str | None:
        try:
            assert_frames_match(got, self.con.execute(sql).fetchdf(), name)
        except AssertionError as e:
            return str(e)[:500]
        return None

    def close(self) -> None:
        self.con.close()
