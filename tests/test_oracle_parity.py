"""Primary correctness gate mirror: every op with a SQL oracle must
hash-match DuckDB at the driver's scale factor (SURVEY §5.2.1)."""

from __future__ import annotations

import pytest

# llm is imported ahead of the registry so that, run on its own, this file
# still registers a late module first and the module-order test bites
from tpc_di_etl_using_pyspark_spark.plans import llm  # noqa: F401
from tpc_di_etl_using_pyspark_spark.plans import registry
from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

from .conftest import assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()


def test_every_oracle_has_query():
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("op", sorted(_ORACLES))
def test_oracle_parity(op, spark, duck, sf_dir):
    df = _QUERIES[op](spark, sf_dir)
    assert_parity(df, duck, _ORACLES[op], op)


def test_no_rows_only_ops_remain():
    """Every registered op is SQL-oracled — the rows-only escape hatch
    is empty (and this test replaces the parametrized runner that
    pytest reported as a skip on the empty set). The op count is pinned
    too, so a registry that loses ops also fails here, not only by
    shrinking the parametrized parity run above."""
    assert set(_QUERIES) == set(_ORACLES), (
        f"rows-only ops appeared: {sorted(set(_QUERIES) - set(_ORACLES))}"
    )
    assert len(_QUERIES) == 291


def test_duplicate_op_id_raises_naming_both_modules():
    """A second registration of an op id fails at decoration time,
    names the module that holds the id and the one that tried to take
    it, and leaves the registry as it was."""
    name, first = next(iter(_QUERIES.items()))

    def clash(spark, d):
        raise AssertionError("never registered")

    with pytest.raises(ValueError) as err:
        registry.op(name, "SELECT 1")(clash)
    assert first.__module__ in str(err.value)
    assert clash.__module__ in str(err.value)
    assert all_queries() == _QUERIES
    assert all_oracles() == _ORACLES


def test_ops_come_back_in_module_order():
    """Ops are grouped by plan module in registry._MODULES order,
    whatever order the modules were first imported in."""
    rank = [
        registry._MODULES.index(fn.__module__.rsplit(".", 1)[-1])
        for fn in _QUERIES.values()
    ]
    assert rank == sorted(rank)
    assert list(_ORACLES) == list(_QUERIES)


def test_approx_selfcheck_flags_true(spark, sf_dir):
    """The approx ops are self-verifying: they emit exact values plus a
    sketch-within-tolerance flag the oracle asserts as TRUE. The flags
    must actually be true on the fixtures (SURVEY §5.2.4
    tolerance-based self-check, hardened into the oracle contract)."""
    from tpc_di_etl_using_pyspark_spark.plans.core_agg import (
        agg_approx_count_distinct,
        agg_approx_percentile,
    )

    rows = agg_approx_percentile(spark, sf_dir).collect()
    assert rows and all(r.approx_within_2pct for r in rows)
    rows = agg_approx_count_distinct(spark, sf_dir).collect()
    assert rows and all(r.hll_within_10pct for r in rows)
