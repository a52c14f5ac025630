"""Full driver simulation: run EVERY registered query the way the round
driver does and compare with the DuckDB oracle.

The driver imports ``__spark_entry__.py`` by path, builds its own bare
SparkSession (none of our tuned conf), runs each ``queries()`` entry at
sf0.01 and compares with ``oracle_sql()`` (columns sorted by name, rows
sorted, values hashed).  This script reproduces that from a NEUTRAL cwd so
conf-dependent or pickling-dependent failures surface before the round
gate does; the comparison is the oracle suite's own
(``tests.conftest.assert_frames_match``).

Usage (cwd does not matter; /tmp is the honest choice):

    cd /tmp && python /root/repo/tools/driver_sim.py [--sf /root/testdata/sf0.01] [names...]

Prints one PASS/FAIL line per query and a final tally; exit code 1 on any
failure.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
import time

import duckdb

ENTRY = "/root/repo/__spark_entry__.py"
sys.path.insert(0, os.path.dirname(ENTRY))
from naive_query_engine_spark.sources import TPCH_TABLES as TABLES  # noqa: E402
from tests.conftest import assert_frames_match  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", help="subset of query names (default: all)")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location("spark_entry", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    queries = mod.queries()
    oracles = mod.oracle_sql()
    names = args.names or sorted(queries)
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            spark_pdf = queries[name](spark, args.sf).toPandas()
            oracle_pdf = con.execute(oracles[name]).fetchdf()
            assert_frames_match(spark_pdf, oracle_pdf, name)
            status = f"PASS ({len(spark_pdf)} rows)"
            n_pass += 1
        except Exception as exc:  # noqa: BLE001 — report and continue
            status = f"FAIL: {type(exc).__name__}: {str(exc)[:200]}"
            n_fail += 1
        print(f"{name:40s} {status}  [{time.time() - t0:.1f}s]", flush=True)

    print(f"\n{n_pass} PASS / {n_fail} FAIL of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
