"""The CDC benchmark's entry points still run against the package: the
checker's self-test passes and the runner imports every name it uses, so a
package change that breaks the benchmark fails here first."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "argv", [["cdcbench/check.py"], ["cdcbench/run.py", "--help"]], ids=["check", "run-help"]
)
def test_cdcbench_entry_point_exits_zero(argv):
    # no bytecode caches: the benchmark's directory stays as committed
    env = {**os.environ, "PYTHONDONTWRITEBYTECODE": "1"}
    res = subprocess.run(
        [sys.executable, *argv], cwd=ROOT, env=env, capture_output=True, text=True, timeout=300
    )
    assert res.returncode == 0, f"stdout:\n{res.stdout[-3000:]}\nstderr:\n{res.stderr[-3000:]}"
