"""Self-check of the benchmark: every workload end to end on the sf0.001
corpus, and the cold-reset guard.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from layers import ColdReset, ColdResetError, cache_dicts  # noqa: E402


def _bench(workload: str, trace: int) -> dict:
    from tests.conftest import SF_SMOKE

    env = dict(os.environ, SF_ORACLE_DIR=SF_SMOKE)
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_runs_correct_at_sf0001(workload):
    result = _bench(workload, trace=1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.PER_LAYER_UNITS)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.task_s"] > 0 and m["engine.register_s"] > 0
    if workload == "curation_cold":
        assert m["operators.substrate_builds"] > 0
        assert m["queries.cascade_construct_jobs"] > 0
    else:
        assert m["operators.substrate_hits"] > 0
        assert m["operators.touched_cell_ratio"] > 0 and m["sources.output_mb"] > 0


def _stub_spark():
    calls = []
    jvm = types.SimpleNamespace(System=types.SimpleNamespace(gc=lambda: calls.append("gc")))
    return types.SimpleNamespace(
        catalog=types.SimpleNamespace(clearCache=lambda: calls.append("clear")),
        sparkContext=types.SimpleNamespace(_jvm=jvm),
    ), calls


def test_cold_reset_guard_trips_when_no_cache_is_seen(monkeypatch):
    """A cache moved where the reset cannot see it must fail the pass, not
    let warm numbers pass for cold ones."""
    mod = types.ModuleType("perfbench_fakepkg.ops")
    mod._SIG_CACHE = {("app", "sf"): object()}
    monkeypatch.setitem(sys.modules, "perfbench_fakepkg.ops", mod)
    spark, calls = _stub_spark()
    reset = ColdReset(spark, package="perfbench_fakepkg")

    assert reset() == 1 and mod._SIG_CACHE == {}
    assert calls == ["clear", "gc"]
    reset.end_pass()  # a pass that dropped state passes

    reset()
    with pytest.raises(ColdResetError):
        reset.end_pass()  # nothing was dropped in this pass


def test_engine_caches_are_visible_to_the_reset():
    import naive_query_engine_spark.queries  # noqa: F401 - imports every operator

    assert len(cache_dicts()) > 0
