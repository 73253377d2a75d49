"""Smoke tests for the measurement tooling: `bench.py` and every
`tools/*.py` script import cleanly, and `tools/measure.py jobs` runs
end to end in its own process."""

from __future__ import annotations

import importlib
import os
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))


@pytest.mark.parametrize("module", ["bench"] + [f"tools.{t}" for t in TOOLS])
def test_tool_imports(module):
    mod = importlib.import_module(module)
    assert callable(mod.main)


def test_measure_jobs_subprocess(tmp_path, sf_small):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_small)
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "measure.py"), "jobs",
         "pricing_summary"],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=180, check=True).stdout
    rows = [ln.split() for ln in out.splitlines()
            if ln.strip() and not ln.startswith("query")]
    assert len(rows) == 1, out
    assert rows[0][0] == "pricing_summary"
    assert int(rows[0][1]) >= 1, out
