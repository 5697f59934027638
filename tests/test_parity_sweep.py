"""Usage errors of tools/parity_sweep.py: a bad fixture dir or op name
must stop the sweep with exit 2, never shrink or redirect it."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_missing_fixture_dir_is_usage_error():
    """parity_sweep must exit 2 on a nonexistent explicit fixture dir
    (round-8 ADVICE: a failed adversarial regen previously made the
    window sweep silently fall through to the friendly fixture)."""
    p = subprocess.run(
        [
            sys.executable,
            "tools/parity_sweep.py",
            "/tmp/spark_graft_no_such_fixture_dir",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode == 2
    assert "does not exist" in p.stderr


def test_unknown_op_name_is_usage_error():
    """parity_sweep must reject mistyped op names instead of silently
    shrinking the sweep (round-8 ADVICE)."""
    p = subprocess.run(
        [
            sys.executable,
            "tools/parity_sweep.py",
            "/root/testdata/sf0.001",
            "definitely_not_an_op",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode == 2
    assert "unknown op name" in p.stderr
