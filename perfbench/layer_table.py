#!/usr/bin/env python3
"""Render the per-layer table (markdown) from the traced runs' JSON.

    python3 perfbench/layer_table.py [SEED] > perfbench/LAYERS.md

Reads .work/trace-<workload>-s<SEED>.json (default: the newest file
per workload) as written by `run.py --trace 1`.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import LAYER_METRICS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _fmt(v: float, unit: str) -> str:
    if unit in ("count", "bytes"):
        return f"{v:,.0f}"
    return f"{v:.3f}"


def main() -> None:
    seed = sys.argv[1] if len(sys.argv) > 1 else "*"
    runs = {}
    for name in WORKLOADS:
        files = sorted(glob.glob(os.path.join(HERE, ".work", f"trace-{name}-s{seed}.json")),
                       key=os.path.getmtime)
        if files:
            with open(files[-1]) as f:
                runs[name] = json.load(f)
    if not runs:
        sys.exit("no traced runs found; run `run.py --trace 1` first")
    names = list(runs)
    host = next(iter(runs.values()))["host"]
    print("# Per-layer table (traced runs)\n")
    print(f"Median over the traced passes of one `--trace 1` run per workload; "
          f"seeds {', '.join(str(runs[n]['seed']) for n in names)}; "
          f"{host['nproc']} cores, bench.py calibration_sec "
          f"{host.get('calibration_sec', 'n/a')}. Values are per pass (every op of the "
          f"workload once; microbatch: every op once per slice). Generated by "
          f"`perfbench/layer_table.py`; metric meanings in NOTES.md.\n")
    print("| metric | unit | " + " | ".join(f"`{n}`" for n in names) + " |")
    print("| --- | --- | " + " | ".join("---:" for _ in names) + " |")
    for key, unit in LAYER_METRICS.items():
        cells = [_fmt(runs[n]["metrics"][key], unit) for n in names]
        print(f"| `{key}` | {unit} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
