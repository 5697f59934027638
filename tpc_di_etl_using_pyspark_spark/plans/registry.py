"""Merged op registry — the single source for __spark_entry__.py.

Each module in ``_MODULES`` contributes ``QUERIES`` (op id -> function
returning the op's DataFrame) and ``ORACLES`` (op id -> DuckDB SQL);
keys are SURVEY §2 op IDs and must be unique across modules. Ops come
back in ``_MODULES`` order, each module's ops in its own order;
callers look ops up by name, so the order only needs to be stable. A
module that fails to import fails the whole registry, so no op can
drop out silently.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

_MODULES = [
    "core_scans",
    "core_relational",
    "core_agg",
    "core_window",
    "scalars",
    "streaming_ops",
    "udfs",
    "llm",
    "tpcdi_ops",
]


def _collect() -> tuple[dict, dict]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod_name in _MODULES:
        mod = import_module(f"{__package__}.{mod_name}")
        for k, v in mod.QUERIES.items():
            if k in queries:
                raise ValueError(f"duplicate op id {k!r} in {mod_name}")
            queries[k] = v
        oracles.update(mod.ORACLES)
    return queries, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
