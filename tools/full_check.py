#!/usr/bin/env python
"""Whole-engine check runner — one command, one PASS/FAIL summary.

Steps (each shells out to the single-purpose tool, so this list
cannot diverge from what the tools actually do):

  1. full-registry parity at sf0.001 (cheap full-surface pass)
  2. canonicalizer probe (sort + hash halves) on every op
  3. pytest collect-only count >= EXPECTED_MIN_TESTS (the suite
     itself runs separately — this pins the COUNT, not just the exit
     code, so a silently-dropped test file is loud)
  4. adversarial-fixture parity over the whole registry: the
     hostile-values fixture is regenerated fresh (deterministic value
     pools) and every op must match DuckDB on it, so cross-engine
     agreement is shown to be a property of the EXPRESSIONS, not of
     the friendly fixture
  5. docs drift: regenerate OPERATORS.md + PLANS.md and fail if the
     working tree changes (a stale index must never ship)

sf0.01 parity for every op is the suite's tests/test_oracle_parity.py,
and the entry() smoke check is tests/test_entry_contract.py.
Heavier evidence (sf0.1 sweeps, hostile session confs, bench) stays
manual — it needs judgment about machine load.

Usage: python tools/full_check.py
Exit 0 = all steps green. Run it with SPARK_GRAFT_CPUS unset: PLANS.md
is generated at the session's default width, and at another width
spread_scan's gate changes the plans, so step 5 reports drift.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PY = sys.executable

# Floor for step 3: the suite had this many tests when the floor was
# last set. Raise it whenever tests are added; a collect run BELOW it
# means a file silently fell out of collection.
EXPECTED_MIN_TESTS = 1090


def run(label: str, cmd: list[str]) -> tuple[str, bool, str]:
    try:
        p = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=7200
        )
    except subprocess.TimeoutExpired:
        # a hung step is a FAIL row, not a checklist crash
        return label, False, "timeout after 7200s"
    if p.returncode == 0:
        tail = (p.stdout or p.stderr).strip().splitlines()
        return label, True, tail[-1] if tail else ""
    # on failure the real error is usually on stderr — prefer it, but
    # keep the stdout tail too so a tool that reports failures on
    # stdout (e.g. parity_sweep's MISMATCH lines) stays visible
    err_tail = [ln for ln in p.stderr.strip().splitlines() if ln.strip()]
    out_tail = [ln for ln in p.stdout.strip().splitlines() if ln.strip()]
    parts = [t[-1] for t in (err_tail, out_tail) if t]
    return label, False, " | ".join(parts)


def main() -> None:
    steps = [
        (
            "full registry parity @ sf0.001",
            [PY, "tools/parity_sweep.py", "/root/testdata/sf0.001"],
        ),
        (
            "canon probe (sort+hash) @ sf0.001",
            [PY, "tools/driver_canon_probe.py"],
        ),
        (
            "pytest collection intact",
            [PY, "-m", "pytest", "tests/", "--collect-only", "-q"],
        ),
        (
            "regen adversarial fixture",
            [PY, "tools/adversarial_fixture.py", "/tmp/spark_graft_adversarial"],
        ),
        (
            "full registry parity @ adversarial",
            [PY, "tools/parity_sweep.py", "/tmp/spark_graft_adversarial"],
        ),
        ("regen OPERATORS.md", [PY, "tools/gen_operators_md.py"]),
        ("regen PLANS.md", [PY, "tools/gen_plans_md.py"]),
        (
            "docs drift (tree clean after regen)",
            ["git", "diff", "--stat", "--exit-code",
             "OPERATORS.md", "PLANS.md"],
        ),
    ]
    results = [run(label, cmd) for label, cmd in steps]
    print()
    ok = True
    for label, good, tail in results:
        if label == "pytest collection intact" and good:
            # exit 0 is not enough: compare the COLLECTED COUNT
            # against the pinned floor (a dropped file still exits 0)
            m = re.search(r"(\d+) tests collected", tail)
            count = int(m.group(1)) if m else -1
            good = count >= EXPECTED_MIN_TESTS
            tail = f"{count} tests collected (floor {EXPECTED_MIN_TESTS})"
        print(f"[{'PASS' if good else 'FAIL'}] {label}: {tail}")
        ok &= good
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
