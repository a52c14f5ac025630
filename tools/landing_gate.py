"""Registration landing gate (VERDICT r11 #5).

One command that every NEW query registration must pass BEFORE its
commit lands — encoding the r11 kcenter lesson: the
`embedding_kcenter_coreset` DuckDB *oracle* hid an n²·D post-join
filter that only surfaced in the close-of-round sf0.1 sweep (383 s,
78 GB spill).  Oracles are shipped artifacts too; they get scale
checks at landing, not at round close.

Per query name this runs, in order:

1. Bare driver sim (tools/driver_sim.py semantics: neutral cwd, bare
   local[8] SparkSession, column-sorted/row-sorted exact compare) at
   sf0.001, sf0.01 and sf0.1.
2. The DuckDB ORACLE ALONE at sf0.1 under a wall-clock cap
   (--oracle-cap, default 120 s) and a DuckDB memory_limit
   (--oracle-mem, default 8GB so a quadratic plan spills and blows the
   time cap instead of silently eating the host) — the specific gate
   the kcenter oracle would have failed.

Exit code 1 on any failure; prints one line per gate.

Usage:
    cd /tmp && python /root/repo/tools/landing_gate.py name [name ...]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)


def oracle_gate(name: str, sf_dir: str, cap_sec: float, mem: str) -> bool:
    """Run ONLY the oracle SQL in a fresh DuckDB under time/memory caps.

    A subprocess so a runaway plan can be killed at the cap instead of
    wedging the gate; the child registers the standard parquet views the
    way the driver does.
    """
    child = f"""
import sys, time
sys.path.insert(0, {ROOT!r})
import duckdb
from naive_query_engine_spark.queries import QUERIES
from naive_query_engine_spark.sources import TPCH_TABLES
spec = QUERIES[{name!r}]
con = duckdb.connect()
con.execute("SET memory_limit='{mem}'")
for t in TPCH_TABLES:
    con.execute(
        f"CREATE VIEW {{t}} AS SELECT * FROM read_parquet('{sf_dir}/{{t}}.parquet')"
    )
t0 = time.perf_counter()
n = len(con.execute(spec.oracle).fetchall())
print(f"OK {{n}} rows {{time.perf_counter() - t0:.1f}}s")
"""
    t0 = time.perf_counter()
    try:
        p = subprocess.run(
            [sys.executable, "-c", child],
            capture_output=True,
            text=True,
            timeout=cap_sec,
        )
    except subprocess.TimeoutExpired:
        print(f"  oracle@{sf_dir}: FAIL (exceeded {cap_sec:.0f}s cap)")
        return False
    took = time.perf_counter() - t0
    out = (p.stdout or "").strip().splitlines()
    tail = out[-1] if out else ""
    if p.returncode != 0:
        err = (p.stderr or "").strip().splitlines()
        print(f"  oracle@{sf_dir}: FAIL ({err[-1] if err else 'no output'})")
        return False
    print(f"  oracle@{sf_dir}: {tail} [{took:.1f}s total]")
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--oracle-cap", type=float, default=120.0)
    ap.add_argument("--oracle-mem", default="8GB")
    ap.add_argument(
        "--skip-sims",
        action="store_true",
        help="oracle gate only (when the 3-SF sims already ran this session)",
    )
    args = ap.parse_args()

    ok = True
    if not args.skip_sims:
        for sf in SF_DIRS:
            cmd = [
                sys.executable,
                os.path.join(ROOT, "tools", "driver_sim.py"),
                "--sf",
                sf,
                *args.names,
            ]
            p = subprocess.run(cmd, cwd="/tmp", capture_output=True, text=True)
            lines = [
                ln
                for ln in (p.stdout or "").splitlines()
                if " PASS " in ln or " FAIL " in ln
            ]
            for ln in lines:
                print(f"  sim@{sf}: {ln.strip()}")
            if p.returncode != 0:
                ok = False
    for name in args.names:
        print(f"{name}:")
        if not oracle_gate(
            name, SF_DIRS[-1], args.oracle_cap, args.oracle_mem
        ):
            ok = False
    print("LANDING GATE", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
