"""`bench.py`'s output contract, checked without a Spark session: every
benched name is a registered query, and the compact stdout line stays
parseable within its character limit at the widest per-query readings."""

from __future__ import annotations

import json

import bench
from naive_query_engine_spark.queries import QUERIES


def test_bench_queries_are_registered_and_unique():
    assert [q for q in bench.BENCH_QUERIES if q not in QUERIES] == []
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES) == 59


def test_compact_line_fits_at_slowest_readings():
    timings = {name: 99.999 for name in bench.BENCH_QUERIES}
    payload = {
        "metric": "headline_queries_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
    }
    line = bench.compact_line(payload)
    assert len(line) <= bench.LINE_LIMIT == 1900
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert list(parsed["queries"]) == bench.BENCH_QUERIES
    assert payload["queries"] == timings  # the full payload keeps its precision
