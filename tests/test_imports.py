"""Every operator module imports cleanly when it is the first module of
the package a fresh interpreter imports (no Spark session needed)."""

from __future__ import annotations

import os
import pkgutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATORS = sorted(
    m.name
    for m in pkgutil.iter_modules(
        [os.path.join(ROOT, "naive_query_engine_spark", "operators")]
    )
)


@pytest.mark.parametrize("module", OPERATORS)
def test_operator_module_imports_first(module):
    proc = subprocess.run(
        [sys.executable, "-c", f"import naive_query_engine_spark.operators.{module}"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
