"""Primary correctness gate mirror: every op with a SQL oracle must
hash-match DuckDB at the driver's scale factor (SURVEY §5.2.1)."""

from __future__ import annotations

import pytest

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
