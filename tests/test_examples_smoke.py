"""Smoke-run of ``examples/rules_engine.py``: the one example that drives
validation, plug details, keep-old, nested-struct overrides and full-SQL
conditions and values end to end.  It runs in a subprocess because it
starts and stops its own session."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rules_engine_example_runs(tmp_path):
    # the example leaves its rules file in the temp directory
    env = dict(os.environ, TMPDIR=str(tmp_path))
    res = subprocess.run(
        [sys.executable, os.path.join("examples", "rules_engine.py")],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stdout[-4000:] + res.stderr[-4000:]
    out = res.stdout
    # the audit column names the rules that changed a row
    assert "fix-qty" in out and "flag-big-orders" in out
    # keep-old copies the replaced column under <col>_<rule>_old
    assert "status_flag-big-orders_old" in out
    # the scalar-subquery condition and the window-function value both fired
    assert "pricey" in out and "#1" in out
