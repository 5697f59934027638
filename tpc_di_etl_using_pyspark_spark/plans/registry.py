"""The op registry — the single source for __spark_entry__.py.

Every plan module in ``_MODULES`` registers its ops with ``@op(name,
oracle)``: ``name`` is the SURVEY §2 op id and ``oracle`` the DuckDB
SQL the op's rows must hash-match. Op ids are unique across modules; a
second registration of an id raises at import time. Ops come back in
``_MODULES`` order, each module's ops in its own order; callers look
ops up by name, so the order only needs to be stable. A module that
fails to import fails the whole registry, so no op can drop out
silently.
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

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def op(name: str, oracle: str):
    """Register the decorated function as op ``name`` with its oracle SQL."""

    def deco(fn):
        if name in _QUERIES:
            raise ValueError(
                f"duplicate op id {name!r}: registered in "
                f"{_QUERIES[name].__module__}, again in {fn.__module__}"
            )
        _QUERIES[name] = fn
        _ORACLES[name] = oracle
        return fn

    return deco


def _in_module_order() -> list[str]:
    # imported here, not at the top: perfbench wraps library functions
    # before the plan modules bind them
    for mod_name in _MODULES:
        import_module(f"{__package__}.{mod_name}")
    rank = {f"{__package__}.{m}": i for i, m in enumerate(_MODULES)}
    # modules register in the order they are first imported (tpcdi_ops
    # pulls in core_scans, __spark_entry__ imports core_agg); the stable
    # sort restores _MODULES order
    return sorted(_QUERIES, key=lambda k: rank[_QUERIES[k].__module__])


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _QUERIES[k] for k in _in_module_order()}


def all_oracles() -> dict[str, str]:
    return {k: _ORACLES[k] for k in _in_module_order()}
