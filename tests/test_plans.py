"""Physical-plan shape assertions (SURVEY §4, 100 TB posture): the
declarative queries must compile to the plans the scale design calls
for — pushed filters, pruned scans, broadcast star joins, no nested
loops on the temporal joins, exchange-free bucketed joins, and a
shuffle-free vector top-k. A green correctness suite with a wrong plan
shape is exactly the failure mode these catch.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.plans._util import t
from tpc_di_etl_using_pyspark_spark.plans.registry import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_scan_parquet_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(all_queries()["scan_parquet"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # column pruning: the scan's ReadSchema carries only the 4 needed cols
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"):
        assert col in read_schema
    assert "l_extendedprice" not in read_schema


def test_star_join_is_all_broadcast(spark, sf_dir):
    plan = _plan(all_queries()["join_broadcast"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_temporal_joins_avoid_nested_loop(spark, sf_dir):
    for op in ("join_range_between", "join_asof_latest"):
        plan = _plan(all_queries()[op](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, op
        assert "CartesianProduct" not in plan, op


def test_simhash_candidate_joins_are_keyed(spark, sf_dir):
    """Both simhash ops' pair searches must be equi-joins on the
    (chunk_idx, chunk) slice key — never a cartesian/nested-loop —
    and the Hamming cut must sit inside the join, not after a
    pair-materializing shuffle."""
    for op in ("dedup_simhash", "dedup_simhash_hamming"):
        plan = _plan(all_queries()[op](spark, sf_dir))
        assert "CartesianProduct" not in plan, op
        assert "BroadcastNestedLoopJoin" not in plan, op


def test_cosine_topk_has_no_shuffle(spark, sf_dir):
    plan = _plan(all_queries()["sim_cosine_topk"](spark, sf_dir))
    # brute-force top-k = scan → project → TakeOrderedAndProject; a
    # shuffle exchange would mean a global sort crept in
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_bucketed_join_skips_both_exchanges(spark, sf_dir, tmp_path):
    """Two tables bucketed by the join key on the same bucket count
    join with zero Exchange operators — the pre-shuffle lives in
    storage, the co-location survives restarts."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    for name, df, key in (("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .format("parquet")
            .saveAsTable(name)
        )
    # force the sort-merge path (a broadcast would mask bucketing)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_splits_hot_keys(spark, sf_dir):
    """The salted join's probe side must distribute each hot key over
    n_salt distinct (key, salt) groups."""
    df = all_queries()["join_skew_salted"](spark, sf_dir)
    plain = t(spark, sf_dir, "lineitem").join(
        t(spark, sf_dir, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert df.count() == plain.count()
    salts = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(8)).alias("s")
        )
        .distinct()
        .count()
    )
    assert salts == 8


def test_partitioned_read_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory-level pruning), not a row-level scan filter."""
    path = str(tmp_path / "orders_by_year")
    (
        t(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = _plan(df)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_year" in pf_line and "1995" in pf_line
    assert df.count() > 0


def test_minhash_candidate_join_is_bounded(spark, sf_dir):
    """The LSH candidate self-join must key on (band_idx, band_key) —
    an unkeyed cross join would explode at corpus scale."""
    plan = _plan(all_queries()["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_partitioned_probe_prunes_cells(spark, sf_dir):
    """The IVF probe must read only the query's cell directory."""
    df = all_queries()["sim_ivf_index_partitioned"](spark, sf_dir)
    plan = _plan(df)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf_line
    assert df.count() == 10


def test_stream_stream_join_is_equi_not_nested_loop(spark, sf_dir):
    """The interval join must plan as an equi-join on user_id with the
    time range as a residual condition — a nested loop here would scan
    purchases once per view at scale."""
    plan = _plan(all_queries()["stream_stream_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_clustered_sink_readback_prunes(spark, sf_dir):
    """A date-range scan over the sortWithinPartitions-clustered table
    must reach the parquet reader as a pushed filter (row-group min/max
    pruning is what the clustering buys)."""
    out = all_queries()["sink_sorted_clustered"](spark, sf_dir)
    probe = out.filter(F.col("l_shipdate") >= "1995-01-01")
    plan = _plan(probe)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]


def test_tfidf_vocab_join_is_unhinted(spark, sf_dir):
    """text_tfidf must not force-broadcast the vocabulary relation (a
    10^8-row relation at corpus scale); the only broadcast hint allowed
    is the 1-row corpus count."""
    df = all_queries()["text_tfidf"](spark, sf_dir)
    logical = df._jdf.queryExecution().logical().toString()
    assert logical.count("broadcast") <= 1


def test_sample_stratified_single_exchange(spark, sf_dir):
    """Both windows (rank + per-stratum count) share the stratum
    partitioning — exactly one shuffle exchange in the plan."""
    plan = _plan(all_queries()["sample_stratified_exact"](spark, sf_dir))
    # formatted mode prints each node twice (tree + detail) — count tree nodes
    assert plan.count("+- Exchange") == 1


def test_sessionize_single_exchange(spark, sf_dir):
    """Both windows (gap mark + running session id) and the final
    per-session aggregate share the user_id partitioning — the plan
    must contain exactly one shuffle exchange."""
    plan = _plan(all_queries()["win_sessionize_gap"](spark, sf_dir))
    assert plan.count("+- Exchange") == 1


def test_l2_normalize_is_shuffle_free(spark, sf_dir):
    """Norm fold + per-element divide is a narrow map over the vector
    column — no exchange at all."""
    plan = _plan(all_queries()["vec_l2_normalize"](spark, sf_dir))
    assert "Exchange" not in plan


def test_date_spine_broadcasts_spine_side(spark, sf_dir):
    """The 90-row generated spine must be the broadcast side; the fact
    scan must push the o_orderdate range filter down."""
    plan = _plan(all_queries()["date_spine_gapfill"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """Catalyst must rewrite the correlated LATERAL into a ranked
    window join, not a per-outer-row nested-loop re-execution."""
    plan = _plan(all_queries()["sql_lateral_topk"](spark, sf_dir))
    assert "Window" in plan


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes in a formatted explain (the '(n) Name'
    detail headers — the tree section repeats every node name)."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}", plan, flags=re.M))


def test_interval_overlap_is_equi_not_theta(spark, sf_dir):
    """Grid decomposition must turn the overlap predicate into an
    explode + single agg shuffle — never a nested-loop theta join."""
    plan = _plan(all_queries()["join_interval_overlap"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "Generate")  # the month-sequence explode
    assert _nodes(plan, "Exchange") == 1


def test_interpolate_single_sort_single_window(spark, sf_dir):
    """Both directional IGNORE NULLS fills must share one (user, ts)
    sort and compute in a single Window node — one shuffle total."""
    plan = _plan(all_queries()["win_interpolate_linear"](spark, sf_dir))
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Window") == 1


def test_zscore_single_exchange(spark, sf_dir):
    """The anomaly re-aggregation must reuse the moment window's
    user_id partitioning — a second exchange means the groupBy lost
    the co-partitioning guarantee."""
    plan = _plan(all_queries()["win_zscore_anomaly"](spark, sf_dir))
    assert _nodes(plan, "Exchange") == 1


def test_partition_pruned_scan_lists_only_matching_dirs(spark, sf_dir):
    """The o_year >= 2000 predicate must land in PartitionFilters (file
    listing), not as a post-scan row filter over every partition."""
    plan = _plan(all_queries()["scan_partition_pruned"](spark, sf_dir))
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_year" in pf and "2000" in pf


def test_rp_lsh_band_join_is_equi_not_nested_loop(spark, sf_dir):
    """Random-hyperplane LSH: candidates come from an equi self-join on
    (band_idx, band_key) — never an all-pairs cartesian; the signature
    pass is a narrow map over the embeddings scan."""
    plan = _plan(all_queries()["sim_rp_lsh_cosine"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql_udf_is_inlined_no_python(spark, sf_dir):
    """Declarative SQL UDF/TVF bodies inline at analysis time — the
    physical plan must contain no Python evaluation node and keep the
    TVF's predicate pushed into the parquet scan."""
    plan = _plan(all_queries()["udf_sql_declarative"](spark, sf_dir))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    plan = _plan(all_queries()["udtf_sql_table_fn"](spark, sf_dir))
    assert "Python" not in plan
    assert "PushedFilters: [IsNotNull(o_totalprice)" in plan


def test_pipe_syntax_compiles_to_partial_agg(spark, sf_dir):
    """|> AGGREGATE lowers to the same two-phase hash aggregation as
    the classic form, with the WHERE pushed to the scan."""
    plan = _plan(all_queries()["sql_pipe_syntax"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_variant_and_xml_are_shuffle_free(spark, sf_dir):
    """VARIANT parse/extract and the from_xml round trip are narrow
    maps — no Exchange in either plan."""
    for op in ("json_variant_extract", "xml_roundtrip_builtin"):
        plan = _plan(all_queries()[op](spark, sf_dir))
        assert "Exchange" not in plan, op


def test_incremental_dedup_probes_not_self_joins(spark, sf_dir):
    """Incremental dedup joins new-side band keys to corpus-side band
    keys — equi join on the band bucket, no cartesian anywhere."""
    plan = _plan(all_queries()["pipeline_incremental_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_centroids_broadcast(spark, sf_dir):
    """k-means assignment broadcasts the k x dim centroid relation;
    the per-vector distance aggregation partially aggregates before
    its shuffle."""
    plan = _plan(all_queries()["vec_kmeans_refine"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_python_datasource_parallelizes_per_file(spark, sf_dir):
    """The Python DataSource plans one InputPartition per data file —
    the read must not collapse to a single task."""
    df = all_queries()["scan_python_datasource"](spark, sf_dir)
    assert df.rdd.getNumPartitions() >= 2


def test_bloom_runtime_filter_injected(spark, sf_dir):
    """The runtime bloom filter must appear as a might_contain()
    predicate on the probe side, fed by bloom_filter_agg on the
    filtered build side."""
    plan = _plan(all_queries()["join_bloom_runtime_filter"](spark, sf_dir))
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """The year-partitioned fact scan must carry a dynamicpruning
    expression in its PartitionFilters — runtime partition skipping
    driven by the dim join, not a static literal."""
    plan = _plan(all_queries()["join_dpp_partitioned"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_hybrid_scd_single_exchange(spark, sf_dir):
    """Type-2 versioning and the Type-1 last_value backfill share one
    (key, eff, tiebreak) partitioning — exactly one shuffle."""
    plan = _plan(all_queries()["tpcdi_scd2_hybrid_type1"](spark, sf_dir))
    assert _nodes(plan, "Exchange") == 1


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE posture evidence: after execution, the aggregation's shuffle
    read must be an AQEShuffleRead (coalesced to the real data size,
    not the static spark.sql.shuffle.partitions)."""
    df = all_queries()["agg_groupby_basic"](spark, sf_dir)
    df.collect()  # the write path spawns its own QueryExecution
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "AQEShuffleRead" in executed


def test_aqe_coalesces_cached_shuffle_partitions(spark):
    """A cached aggregate's shuffle is coalesced too: Spark's default
    keeps a cached plan at spark.sql.shuffle.partitions partitions."""
    df = spark.range(10_000).groupBy((F.col("id") % 97).alias("k")).count().cache()
    try:
        df.count()
        parts = df.rdd.getNumPartitions()
    finally:
        df.unpersist()
    assert parts < int(spark.conf.get("spark.sql.shuffle.partitions")), parts


def test_scalar_subquery_decorrelates_to_one_agg_join(spark, sf_dir):
    """Both correlated scalar subqueries (select list + predicate,
    same correlation key) must decorrelate to grouped aggregation(s)
    joined back — never a per-outer-row re-execution (no nested loop
    over customer)."""
    plan = _plan(all_queries()["sql_scalar_subquery_corr"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "HashAggregate") >= 2  # partial+final of the avg


def test_ann_recall_scored_relation_broadcasts_queries(spark, sf_dir):
    """The probe-query relation must broadcast (constant-size), so the
    corpus side is never shuffled for the scoring pass."""
    plan = _plan(all_queries()["sim_ann_recall_eval"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# a norm fold: zip_with of one attribute with itself
_NORM_FOLD = re.compile(r"aggregate\(zip_with\((\w+#\d+), \1,")


def test_vector_norms_fold_below_the_pair_join(spark, sf_dir):
    """A vector's norm is per-vector state: it must be folded on the
    one-row-per-vector side of the pair join, never on the join line or
    above it. The folds are interpreted per row (CodegenFallback), so a
    norm on the pair relation is recomputed for every comparison."""
    for op in (
        "sim_knn_join",
        "sim_embedding_neardup",
        "sim_ann_recall_eval",
        "sim_rp_lsh_cosine",
    ):
        df = all_queries()[op](spark, sf_dir)
        lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        top = next(
            i for i, line in enumerate(lines)
            if re.sub(r"^[\s:|+-]*", "", line).startswith("Join ")
        )
        above = sum(len(_NORM_FOLD.findall(line)) for line in lines[: top + 1])
        below = sum(len(_NORM_FOLD.findall(line)) for line in lines[top + 1:])
        assert above == 0, (op, above)
        assert below == 2, (op, below)  # one per side of the pair join


def test_twap_reuses_window_partitioning_for_agg(spark, sf_dir):
    """One user_id exchange total: the LEAD window and the grouped
    aggregation share the same key, so the groupBy must reuse the
    window's shuffle instead of adding its own."""
    plan = _plan(all_queries()["win_time_weighted_avg"](spark, sf_dir))
    import re

    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, f"expected 1 exchange, saw {n_exchange}"


def test_pretrain_e2e_no_cartesian_no_python(spark, sf_dir):
    """The composed corpus build stays expression-only (no Python
    workers) and never degenerates to an unkeyed join."""
    plan = _plan(all_queries()["pipeline_pretrain_e2e"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_assignment_is_single_vecid_shuffle(spark, sf_dir):
    """The wide-layout assignment must shuffle on vec_id alone (8
    distance sums as columns), never on (vec_id, cell) — the tall
    layout's 8x row replication is the thing this guards against."""
    plan = _plan(all_queries()["vec_kmeans_refine"](spark, sf_dir))
    assert "hashpartitioning(vec_id" in plan
    assert "hashpartitioning(vec_id#" in plan  # key is vec_id alone
    import re

    assert not re.search(r"hashpartitioning\(vec_id#\d+L?, cell", plan)


def test_pyds_sink_manifest_is_commit_point(spark, sf_dir):
    """The jsonl_manifest sink's manifest must account for every shard
    row and be published only at commit (shards listed = shards on
    disk; totals = relation count)."""
    import glob
    import json
    import os

    from tpc_di_etl_using_pyspark_spark.plans.core_scans import (
        _scratch,
        sink_python_datasource,
    )

    df = sink_python_datasource(spark, sf_dir)
    n = df.count()
    path = _scratch(sf_dir, "jsonl_manifest_sink")
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["n_total"] == n
    on_disk = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(path, "shard-*"))
    )
    assert [s["shard"] for s in man["shards"]] == on_disk
    assert sum(s["n_rows"] for s in man["shards"]) == n


def test_merge_upsert_rewrites_only_affected_partitions(spark, sf_dir):
    """The MERGE sink's 100-TB claim is that dynamic partition
    overwrite replaces ONLY the buckets the update batch touches
    (update keys are %40 == 0 → bucket 0). Verify physically: after
    the op runs (base write, then merge overwrite), every part file in
    buckets 1-7 must predate every part file in bucket 0 — i.e. the
    merge write never rewrote an unaffected partition directory."""
    import glob
    import os

    from tpc_di_etl_using_pyspark_spark.plans.core_scans import (
        _scratch,
        sink_merge_upsert,
    )

    df = sink_merge_upsert(spark, sf_dir)
    # inserted rows must be present in the read-back
    assert df.filter("c_mktsegment = 'MERGED'").count() == 3
    path = _scratch(sf_dir, "sink_merge_upsert")

    def mtimes(bucket: int) -> list[int]:
        fs = glob.glob(os.path.join(path, f"c_bucket={bucket}", "part-*"))
        assert fs, f"bucket {bucket} missing"
        # st_mtime_ns: the two writes are one job apart — float-second
        # mtime could tie on coarse filesystems (review finding)
        return [os.stat(f).st_mtime_ns for f in fs]

    rewritten = mtimes(0)
    untouched = [m for b in range(1, 8) for m in mtimes(b)]
    assert min(rewritten) > max(untouched), (
        "dynamic overwrite rewrote an unaffected bucket"
    )


def test_pca_domain_check_flags_out_of_domain(spark, tmp_path):
    """domain_ok must flip to false (with an exact violation count) on
    a corpus containing components beyond the |x| <= 2 contract."""
    import os

    from tpc_di_etl_using_pyspark_spark.plans.llm import vec_pca_domain_check

    d = str(tmp_path / "sf_hostile")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(1, [0.5, -1.5], "a"), (2, [2.5, 0.0], "a"), (3, [-3.0, 3.0], "b")],
        "vec_id long, embedding array<double>, label string",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    row = vec_pca_domain_check(spark, d).collect()[0]
    assert row["n_vecs"] == 3 and row["n_components"] == 6
    assert row["n_violations"] == 3 and row["domain_ok"] is False
    assert row["max_abs"] == 3.0


def test_merge_upsert_restores_session_conf(spark, sf_dir):
    """The op flips partitionOverwriteMode to dynamic for its own
    write only — the (driver's) session must come back exactly as it
    was, set or unset."""
    from tpc_di_etl_using_pyspark_spark.plans.core_scans import sink_merge_upsert

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    sink_merge_upsert(spark, sf_dir)
    assert spark.conf.get(key, None) == before
    spark.conf.set(key, "static")
    try:
        sink_merge_upsert(spark, sf_dir)
        assert spark.conf.get(key, None) == "static"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
