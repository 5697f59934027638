"""Round-14 optimization invariants — focused tests for the operator
internals the r14 round changed (round rule: every optimization that
changes an operator's internals adds a focused test).

Covered here:
1. spread_scan's STATIC gate (ADVICE r13 item 2): applies only to
   narrow-over-scan plans; derived inputs (aggregate/join) are
   returned untouched, so constructing a DataFrame can no longer
   eagerly execute upstream shuffle stages through the old `.rdd`
   probe.
2. candidate_pairs bounded bucket state (VERDICT r13 item 3): the
   occupancy cap filters BEFORE the collect (plan order: Window below
   the ObjectHashAggregate), and cap semantics are unchanged (whole
   bucket dropped when over-full; pairs exactly the a<b self-join
   result).
3. pipeline_incremental_dedup's one-pass probe: identical pairs to
   the former new-side x capped-corpus-side join on a synthetic
   corpus with an over-cap boilerplate bucket.
4. connected_components' fused convergence flag: labels and
   convergence unchanged on a multi-component graph that needs >1
   superstep.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.llm.components import connected_components
from tpc_di_etl_using_pyspark_spark.llm.minhash import cap_buckets, candidate_pairs
from tpc_di_etl_using_pyspark_spark.plans._util import spread_scan, t


def _optimized_tree(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().treeString()


def test_spread_scan_static_gate_applies_to_narrow_scan(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    out = spread_scan(li, "l_orderkey")
    assert "Repartition" in _optimized_tree(out)
    # filter+project over the scan stays narrow -> still applies
    flt = li.filter("l_quantity > 10").select("l_orderkey", "l_partkey")
    assert "Repartition" in _optimized_tree(spread_scan(flt, "l_orderkey"))


def test_spread_scan_static_gate_noop_on_derived_plans(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").count()
    # identity return (no plan construction, no .rdd probe, no jobs)
    assert spread_scan(agg, "l_orderkey") is agg
    j = li.join(
        t(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey")
    )
    assert spread_scan(j, "l_orderkey") is j
    rep = li.repartition(8, "l_orderkey")
    assert spread_scan(rep, "l_orderkey") is rep


@pytest.fixture(scope="module")
def band_rows(spark):
    # bucket A: 3 members (under cap), bucket B: 5 members (over cap=4),
    # bucket C: singleton
    rows = (
        [(i, 0, 100) for i in (3, 1, 2)]
        + [(i, 0, 200) for i in (10, 14, 12, 11, 13)]
        + [(99, 1, 300)]
    )
    return spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_key long"
    )


def test_candidate_pairs_cap_before_collect_and_semantics(band_rows):
    got = sorted(
        map(tuple, candidate_pairs(band_rows, "doc_id", max_bucket=4).collect())
    )
    # bucket A's a<b pairs only; B dropped whole (over cap), C singleton
    assert got == [(1, 2), (1, 3), (2, 3)]
    # the occupancy Window sits BELOW the collect aggregation in the
    # optimized plan (cap applies before any array is built)
    tree = _optimized_tree(candidate_pairs(band_rows, "doc_id", max_bucket=4))
    assert "Window" in tree and "Aggregate" in tree
    assert tree.index("Aggregate") < tree.index("Window"), tree
    # uncapped keeps bucket B's 10 pairs
    assert (
        candidate_pairs(band_rows, "doc_id", max_bucket=None).count() == 13
    )


@pytest.mark.parametrize(
    "min_size, max_bucket, kept",
    [
        (1, 4, {100: 3, 300: 1}),  # a standing index keeps the singleton
        (2, 4, {100: 3}),
        (2, 5, {100: 3, 200: 5}),  # max_bucket is inclusive
        (2, None, None),  # uncapped: the input itself
    ],
)
def test_cap_buckets_bounds(band_rows, min_size, max_bucket, kept):
    out = cap_buckets(band_rows, ["band_idx", "band_key"], max_bucket, min_size)
    if kept is None:
        assert out is band_rows
        return
    got = {r.band_key: r["count"] for r in out.groupBy("band_key").count().collect()}
    assert got == kept
    assert out.columns == band_rows.columns


def test_incremental_probe_one_pass_equals_join_form(spark):
    # synthetic band relation: new docs (id%5==0) probe corpus buckets;
    # one boilerplate bucket holds 6 corpus members (over cap=5)
    rows = []
    for i in range(30):
        rows.append((i, 0, i % 8))  # 8 small mixed buckets (under cap)
    for i in range(40, 52):  # boilerplate bucket: 9 corpus (over cap) + 3 new
        rows.append((i, 1, 99))
    bk = spark.createDataFrame(rows, "doc_id long, band_idx int, band_key long")
    is_new = F.col("doc_id") % 5 == 0
    cap = 5
    wb = Window.partitionBy("band_idx", "band_key")

    # former join form
    nb = bk.filter(is_new).select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_key"
    )
    cb = (
        bk.filter(~is_new)
        .withColumn("_bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bn") <= cap)
        .drop("_bn")
        .select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
    )
    want = sorted(
        map(
            tuple,
            nb.join(cb, ["band_idx", "band_key"])
            .select("doc_a", "doc_b")
            .dropDuplicates()
            .collect(),
        )
    )

    # shipped one-pass window-collect form
    bkf = bk.withColumn("_cn", F.count(F.when(~is_new, 1)).over(wb)).filter(
        is_new | (F.col("_cn") <= cap)
    )
    withca = bkf.withColumn(
        "_ca", F.collect_set(F.when(~is_new, F.col("doc_id"))).over(wb)
    )
    got = sorted(
        map(
            tuple,
            withca.filter(is_new)
            .select(F.col("doc_id").alias("doc_a"), F.explode("_ca").alias("doc_b"))
            .dropDuplicates()
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_connected_components_fused_probe_labels_and_convergence(spark):
    # two components, one of diameter 3 (needs >1 superstep), plus an
    # isolated pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # output schema carries no internal columns
    assert connected_components(edges).columns == ["node", "component"]
