#!/usr/bin/env python
"""Regenerate OPERATORS.md — the op-by-op coverage matrix the registry
declares (one row per ``queries()`` entry, with implementation
file:line and first docstring line)."""

from __future__ import annotations

import collections
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tpc_di_etl_using_pyspark_spark.plans import registry  # noqa: E402

SECTIONS = {
    "core_scans": "Scans / sources / sinks (SURVEY §2.A)",
    "core_relational": "Projections / filters / joins / sorts / set ops (§2.B/C/F/G)",
    "core_agg": "Aggregations (§2.D)",
    "core_window": "Window functions (§2.E)",
    "scalars": "Scalar function library (§2.H)",
    "streaming_ops": "Structured Streaming surface (§2.I)",
    "udfs": "UDF / UDAF / UDTF surface (§2.J)",
    "llm": "LLM-data-pipeline extensions (§2.K)",
    "tpcdi_ops": "TPC-DI signature pipelines (parity showcases)",
}


def main() -> None:
    qs = registry.all_queries()
    groups: dict[str, list] = collections.OrderedDict()
    for name, fn in sorted(qs.items()):
        mod = fn.__module__.rsplit(".", 1)[-1]
        try:
            line = inspect.getsourcelines(fn)[1]
        except (OSError, TypeError):
            line = 0
        doc = (fn.__doc__ or "").strip().splitlines()
        groups.setdefault(mod, []).append(
            (name, mod, line, (doc[0] if doc else "").replace("|", "\\|"))
        )
    n = sum(len(v) for v in groups.values())
    out = [
        "# OPERATORS — registered capability surface (auto-generated)",
        "",
        "One row per `queries()` op (`__spark_entry__.py`). Every op is",
        "registered with a DuckDB oracle (`oracle_sql()`) and hash-compared",
        "against it at sf0.01 by the driver. Regenerate with",
        "`python tools/gen_operators_md.py`.",
        "",
        f"**Total: {n} ops.**",
        "",
    ]
    for mod, rows in groups.items():
        out += [
            f"## {SECTIONS.get(mod, mod)}",
            "",
            "| Op | Implementation | Semantics |",
            "| --- | --- | --- |",
        ]
        out += [
            f"| `{name}` | `plans/{m}.py:{line}` | {doc} |"
            for name, m, line, doc in rows
        ]
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}: {n} ops, {len(groups)} sections")


if __name__ == "__main__":
    main()
