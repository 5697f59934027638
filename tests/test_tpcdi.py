"""TPC-DI parity pipeline self-checks (SURVEY §5.2.3): the audit-style
invariants the spec builds into the benchmark, over synthetic
TPC-DI-shaped inputs generated from the test tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.plans._util import t
from tpc_di_etl_using_pyspark_spark.sources.fixedwidth import read_fixed_width
from tpc_di_etl_using_pyspark_spark.tpcdi.pipeline import (
    asof_enrich,
    batch_validation,
    cdc_apply,
    fact_cash_balances,
    fact_market_history,
    scd2_audit,
    scd2_build,
    scd2_change_filter,
    surrogate_lookup,
)


def _versions(spark, sf_dir):
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("eff"),
    )


def test_scd2_intervals_valid(spark, sf_dir):
    dim = scd2_build(
        _versions(spark, sf_dir), "o_custkey", "eff", ["o_orderstatus"], "o_orderkey"
    )
    assert scd2_audit(dim, "o_custkey").first()["n_violations"] == 0
    # exactly one current row per key
    cur = dim.filter("is_current").groupBy("o_custkey").count()
    assert cur.filter("count != 1").count() == 0


def test_scd2_audit_counts_each_violation(spark):
    """A hand-broken dimension: a gap (key 1), a row never closed so
    that two rows are current (key 2: a chain break plus a
    multi-current key), a last version that is not current (key 3) and
    an overlap (key 4) make 5 violations; key 5 is valid."""
    import datetime

    def day(s):
        return datetime.date.fromisoformat(s)

    rows = [
        # key, version, effective_date, end_date, is_current
        (1, 1, "2020-01-01", "2020-02-01", False),
        (1, 2, "2020-03-01", "2020-04-01", False),
        (1, 3, "2020-04-01", "9999-12-31", True),
        (2, 1, "2020-01-01", "9999-12-31", True),
        (2, 2, "2020-02-01", "9999-12-31", True),
        (3, 1, "2020-01-01", "2020-05-01", False),
        (4, 1, "2020-01-01", "2020-03-01", False),
        (4, 2, "2020-02-01", "9999-12-31", True),
        (5, 1, "2020-01-01", "2020-02-01", False),
        (5, 2, "2020-02-01", "9999-12-31", True),
    ]
    dim = spark.createDataFrame(
        [(k, v, day(e), day(x), c) for k, v, e, x, c in rows],
        "k int, version int, effective_date date, end_date date, is_current boolean",
    )
    got = scd2_audit(dim, "k").first()
    assert (got.n_rows, got.n_current, got.n_violations) == (10, 5, 5)
    valid = scd2_audit(dim.filter("k = 5"), "k").first()
    assert (valid.n_rows, valid.n_current, valid.n_violations) == (2, 1, 0)


def test_scd2_change_filter_shrinks_and_preserves_first(spark, sf_dir):
    v = _versions(spark, sf_dir)
    changed = scd2_change_filter(v, "o_custkey", "eff", ["o_orderstatus"], "o_orderkey")
    assert 0 < changed.count() <= v.count()
    # every key keeps its first version
    assert changed.select("o_custkey").distinct().count() == v.select(
        "o_custkey"
    ).distinct().count()


def test_surrogate_lookup_resolves_every_fact_in_range(spark, sf_dir):
    dim = scd2_build(
        _versions(spark, sf_dir), "o_custkey", "eff", ["o_orderstatus"], "o_orderkey"
    )
    facts = t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("fact_date"), "o_orderkey"
    )
    resolved = surrogate_lookup(facts, dim, "o_custkey", "fact_date")
    # every fact date ≥ its key's first effective date must resolve
    assert resolved.filter(F.col("sk").isNull()).count() == 0
    # and each fact resolves to exactly one version (half-open intervals)
    assert resolved.count() == facts.count()


def test_fact_cash_balances_final_equals_total(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    fcb = fact_cash_balances(o, "o_custkey", "o_orderdate", "o_totalprice")
    final = fcb.groupBy("account_id").agg(F.max_by("balance", "day").alias("final_bal"))
    total = o.groupBy(F.col("o_custkey").alias("account_id")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("total")
    )
    joined = final.join(total, "account_id")
    assert joined.filter(F.col("final_bal") != F.col("total")).count() == 0


def test_fact_market_history_window_bounds(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    fmh = fact_market_history(li, "l_partkey", "l_shipdate", "l_extendedprice")
    bad = fmh.filter(
        (F.col("close_price") > F.col("high_52wk"))
        | (F.col("close_price") < F.col("low_52wk"))
    )
    assert bad.count() == 0


def test_asof_enrich_latest_version_at_or_before(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("fact_sec")
    )
    versions = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_timestamp("ts").alias("ver_sec"),
        F.col("event_id").cast("string").alias("payload"),
    )
    enriched = asof_enrich(facts, versions, "user_id", "fact_sec", "ver_sec", "payload")
    assert enriched.count() == facts.count()
    # spot-verify: the attached payload's version seq is ≤ the fact seq
    v = versions.select(
        "user_id", F.col("payload").alias("asof_payload"), "ver_sec"
    )
    check = enriched.join(v, ["user_id", "asof_payload"], "left")
    assert check.filter(F.col("ver_sec") > F.col("fact_sec")).count() == 0


def test_cdc_apply_semantics(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    current = o.filter("o_orderstatus = 'F'").select("o_orderkey", "o_totalprice")
    cdc = o.filter("o_orderstatus = 'O'").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_custkey") % 10 == 0, "D").otherwise("U").alias("cdc_flag"),
        F.col("o_orderkey").alias("cdc_dsn"),
    )
    after = cdc_apply(current, cdc, ["o_orderkey"])
    # keys are unique after apply
    assert after.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    # no deleted key survives
    deleted = cdc.filter("cdc_flag = 'D'").select("o_orderkey")
    assert after.join(deleted, "o_orderkey", "left_semi").count() == 0


def test_finwire_multi_record_roundtrip(spark, sf_dir, tmp_path):
    """Generate a mixed CMP/FIN FINWIRE file and parse both record types
    back out [SPEC: FINWIRE multi-record files]."""
    part = t(spark, sf_dir, "part").limit(200)
    cmp_line = F.concat(
        F.lit("20100101-120000"),
        F.lit("CMP"),
        F.rpad(F.substring("p_name", 1, 60), 60, " "),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0"),
    )
    fin_line = F.concat(
        F.lit("20100401-090000"),
        F.lit("FIN"),
        F.lit("2010"),
        F.lit("1"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0"),
    )
    path = str(tmp_path / "finwire")
    part.select(F.explode(F.array(cmp_line, fin_line)).alias("value")).write.mode(
        "overwrite"
    ).text(path)
    layouts = {
        "CMP": [("pts", 0, 15), ("rec_type", 15, 3), ("company_name", 18, 60), ("cik", 78, 10)],
        "FIN": [("pts", 0, 15), ("rec_type", 15, 3), ("year", 18, 4), ("quarter", 22, 1), ("cik", 23, 10)],
    }
    recs = read_fixed_width(spark, path, layouts)
    n = part.count()
    assert recs["CMP"].count() == n
    assert recs["FIN"].count() == n
    assert recs["FIN"].filter("year != '2010' OR quarter != '1'").count() == 0
    both = recs["CMP"].select(F.col("cik").cast("bigint").alias("k")).intersect(
        recs["FIN"].select(F.col("cik").cast("bigint").alias("k"))
    )
    assert both.count() == n


def test_fact_market_history_extreme_dates_in_frame(spark, sf_dir):
    """high/low dates must carry the price the extreme columns report
    and lie within the trailing window."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_partkey").alias("key"), F.col("l_shipdate").cast("date").alias("day")
    ).agg(F.max("l_extendedprice").alias("close"))
    fmh = fact_market_history(daily, "key", "day", "close")
    probe = fmh.alias("f").join(
        daily.alias("d"),
        (F.col("f.key") == F.col("d.key"))
        & (F.col("f.high_52wk_date") == F.col("d.day")),
    )
    assert probe.filter(F.col("d.close") != F.col("f.high_52wk")).count() == 0
    bad_range = fmh.filter(
        (F.col("high_52wk_date") > F.col("quote_date"))
        | (F.col("high_52wk_date") < F.date_sub("quote_date", 364))
        | (F.col("low_52wk_date") > F.col("quote_date"))
        | (F.col("low_52wk_date") < F.date_sub("quote_date", 364))
    )
    assert bad_range.count() == 0


def test_marketing_nameplate_tag_order(spark, sf_dir):
    """Tags appear in spec rule order; empty tag list is NULL."""
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import tpcdi_marketing_nameplate

    rows = tpcdi_marketing_nameplate(spark, sf_dir).collect()
    order = ["HighValue", "Expenses", "Boomer", "MoneyAlert", "Spender", "Inherited"]
    rank = {tag: i for i, tag in enumerate(order)}
    for r in rows:
        if r.marketing_nameplate is None:
            continue
        tags = r.marketing_nameplate.split("+")
        assert all(tag in rank for tag in tags)
        assert tags == sorted(tags, key=rank.__getitem__)
        assert "" not in tags


def test_batch_validation_counts(spark, sf_dir):
    msgs = batch_validation(
        {"orders": t(spark, sf_dir, "orders"), "nation": t(spark, sf_dir, "nation")},
        batch_id=7,
    ).collect()
    by_src = {m.message_source: m for m in msgs}
    assert int(by_src["nation"].message_text) == 25
    assert by_src["orders"].batch_id == 7


def test_asof_enrich_deterministic_on_seq_ties(spark):
    """Two versions sharing a sequence value must resolve to the same
    payload on every run (greatest payload wins the tie)."""
    facts = spark.createDataFrame([(1, 10), (1, 20)], "k int, fseq int")
    versions = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (1, 15, "c")], "k int, vseq int, payload string"
    )
    results = set()
    for n in (2, 7):
        out = asof_enrich(
            facts.repartition(n), versions.repartition(n), "k", "fseq", "vseq", "payload"
        )
        results.add(tuple(sorted((r.fseq, r.asof_payload) for r in out.collect())))
    assert len(results) == 1
    assert results.pop() == ((10, "b"), (20, "c"))


def test_scd2_incremental_equals_rebuild(spark, sf_dir):
    """Applying a later batch incrementally must equal rebuilding the
    dimension from the combined action set [SPEC: incremental and
    historical loads share transformation rules]."""
    from tpc_di_etl_using_pyspark_spark.tpcdi.pipeline import scd2_apply_incremental

    v = _versions(spark, sf_dir)
    hist = v.filter("o_orderstatus = 'F'")
    batch = v.filter("o_orderstatus = 'O'").withColumn("eff", F.date_add("eff", 4000))
    dim = scd2_build(hist, "o_custkey", "eff", ["o_orderstatus"], "o_orderkey")
    incr = scd2_apply_incremental(
        dim, batch, "o_custkey", "eff", ["o_orderstatus"], "o_orderkey"
    )
    rebuilt = scd2_build(
        hist.unionByName(batch), "o_custkey", "eff", ["o_orderstatus"], "o_orderkey"
    )
    cols = ["sk", "version", "o_custkey", "o_orderstatus", "effective_date", "end_date", "is_current"]
    a = sorted(tuple(r[c] for c in cols) for r in incr.collect())
    b = sorted(tuple(r[c] for c in cols) for r in rebuilt.collect())
    assert a == b
    assert scd2_audit(incr, "o_custkey").first()["n_violations"] == 0


def test_scd2_incremental_rejects_late_batch(spark, sf_dir):
    """A batch whose effective dates precede the existing history must
    be rejected loudly, not silently corrupt the intervals."""
    import pytest

    from tpc_di_etl_using_pyspark_spark.tpcdi.pipeline import scd2_apply_incremental

    v = _versions(spark, sf_dir)
    hist = v.filter("o_orderstatus = 'F'")
    dim = scd2_build(hist, "o_custkey", "eff", ["o_orderstatus"], "o_orderkey")
    late_batch = v.filter("o_orderstatus = 'O'").withColumn(
        "eff", F.date_sub("eff", 4000)
    )
    with pytest.raises(ValueError, match="full rebuild"):
        scd2_apply_incremental(
            dim, late_batch, "o_custkey", "eff", ["o_orderstatus"], "o_orderkey"
        )


def test_finwire_warehouse_tables(spark, sf_dir):
    """The FINWIRE-derived warehouse tables honor the spec invariants:
    valid SCD2 intervals, every security/financial row resolved to the
    company version valid at its date, full quarter coverage."""
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import (
        tpcdi_dim_company,
        tpcdi_dim_security,
        tpcdi_financial,
    )

    comp = tpcdi_dim_company(spark, sf_dir)
    assert scd2_audit(comp, "cik").first()["n_violations"] == 0
    n_supp = t(spark, sf_dir, "supplier").count()
    assert comp.filter("is_current").count() == n_supp

    sec = tpcdi_dim_security(spark, sf_dir)
    assert scd2_audit(sec, "symbol").first()["n_violations"] == 0
    # every action date falls inside its resolved company version
    bad = sec.filter(
        F.col("sk_company").isNotNull()
    ).join(
        comp.select(
            F.col("sk").alias("sk_company"),
            F.col("effective_date").alias("c_eff"),
            F.col("end_date").alias("c_end"),
        ),
        "sk_company",
    ).filter(
        (F.col("effective_date") < F.col("c_eff"))
        | (F.col("effective_date") >= F.col("c_end"))
    )
    assert bad.count() == 0

    fin = tpcdi_financial(spark, sf_dir)
    assert fin.count() == 8 * n_supp
    assert fin.groupBy("cik").count().filter("count != 8").count() == 0


def test_fact_watches_and_dimaccount_semantics(spark, sf_dir):
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import (
        tpcdi_fact_watches,
        tpcdi_scd2_dimaccount,
    )

    w = tpcdi_fact_watches(spark, sf_dir)
    # a removed watch is removed at/after placement; active ⇔ no removal
    assert w.filter(
        F.col("date_removed").isNotNull()
        & (F.col("date_removed") < F.col("date_placed"))
    ).count() == 0
    assert w.filter(F.col("is_active") != F.col("date_removed").isNull()).count() == 0

    acct = tpcdi_scd2_dimaccount(spark, sf_dir)
    assert scd2_audit(acct, "account_id").first()["n_violations"] == 0
    assert acct.filter(
        (F.col("version") == 1) & (F.col("action_type") != "ADDACCT")
    ).count() == 0
    assert acct.filter(
        (F.col("version") > 1)
        & (F.col("status") == "CLSD")
        & (F.col("action_type") != "CLOSEACCT")
    ).count() == 0
    # consecutive versions differ in a tracked attribute (change filter)
    from pyspark.sql import Window

    win = Window.partitionBy("account_id").orderBy("version")
    lagged = acct.withColumn(
        "_p", F.lag(F.struct("status", "tax_status")).over(win)
    )
    assert lagged.filter(
        F.col("_p").isNotNull()
        & (F.struct("status", "tax_status") == F.col("_p"))
    ).count() == 0


def test_batch_e2e_composition_and_plan(spark, sf_dir):
    """tpcdi_batch_e2e must (a) report every audit check clean on the
    fixtures and (b) add no shuffles beyond the sum of its stages:
    composing historical load + incremental apply + SK lookup + audit
    into one dataflow is free — phase boundaries are not barriers."""
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import (
        tpcdi_batch_e2e,
        tpcdi_scd2_incremental,
    )

    # start from a cache-clean session: an earlier test (oracle parity)
    # may have materialized this op's phase caches, and already-
    # materialized InMemoryRelations print richer child plans that
    # inflate the string counts below
    spark.catalog.clearCache()
    out = tpcdi_batch_e2e(spark, sf_dir)
    # plan BEFORE the action: post-collect explain shows the AQE final
    # plan with per-stage reprints that inflate string counts
    plan = out._jdf.queryExecution().explainString(
        out.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    rows = {
        (r.message_source, r.message_type): r.message_text for r in out.collect()
    }
    assert rows[("dim_company", "Audit current rows")] == "true"
    assert rows[("dim_customer", "Audit current rows")] == "true"
    assert rows[("dim_customer", "Audit SCD2 violations")] == "0"
    assert rows[("fact_cash_balances", "Audit unresolved SK")] == "0"
    assert int(rows[("dim_customer", "Row count")]) > 0

    # phase boundary: dim_customer — the one warehouse table with
    # MULTIPLE consumers (fact SK resolution + the fused audit stats
    # pass) — must be cached (the local stand-in for the production
    # parquet sink between batch phases) so the SCD2 build executes
    # once, and both of its plan references must read the
    # InMemoryRelation. dim_company and fact_sk have exactly one
    # consumer since the audit became one fused stats pass, so caching
    # them was pure materialization overhead and the plan must NOT
    # regrow extra InMemoryRelations (or extra union-branch aggregation
    # pipelines:
    # the audit emits all 7 rows from ONE inline() over crossJoined
    # 1-row aggregates — no Union remains).
    assert plan.count("InMemoryRelation") == 2, plan.count("InMemoryRelation")
    # exactly ONE inline() Generate — the audit's report-branch Union
    # is gone (scd2_apply_incremental's closed∪new_rows Union remains)
    assert plan.count("Generate inline") == 1, plan.count("Generate inline")
    assert plan.count("Exchange") <= 40, plan.count("Exchange")
    out.sparkSession.catalog.clearCache()


# 253-269 with the cached DimCustomer at 32 shuffle partitions, 67-83
# with AQE sizing it (local[4], local[8] and local[32], cold and warm)
MAX_BATCH_E2E_STAGE_TASKS = 120


def test_batch_e2e_stage_task_budget(spark, sf_dir, tmp_path):
    """The cached DimCustomer is sized by AQE like any other stage: a
    few KB must not land in every shuffle partition, making each stage
    that writes or reads it run spark.sql.shuffle.partitions tasks."""
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import tpcdi_batch_e2e

    sc = spark.sparkContext
    group = f"batch-e2e-tasks-{tmp_path.name}"
    spark.catalog.clearCache()
    sc.setJobGroup(group, group)
    try:
        tpcdi_batch_e2e(spark, sf_dir).write.mode("overwrite").format("noop").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()
    # the tasks of every stage each job lists, skipped ones included;
    # read from the job records because the status store drops stage
    # records (skipped stages first) once it holds more than
    # spark.ui.retainedStages of them, as a long test session does
    store = sc._jsc.sc().statusStore()
    tasks = sum(
        store.job(j).numTasks() for j in sc.statusTracker().getJobIdsForGroup(group)
    )
    assert tasks <= MAX_BATCH_E2E_STAGE_TASKS, f"tpcdi_batch_e2e ran {tasks} tasks"


def test_attribution_touch_precedes_purchase(spark, sf_dir):
    """Every attributed touch strictly precedes its purchase (positive
    micros) and really is the user's latest prior click/view."""
    from pyspark.sql import functions as F

    from tpc_di_etl_using_pyspark_spark.plans._util import t
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import (
        events_attribution_last_touch,
    )

    out = events_attribution_last_touch(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.micros_to_convert > 0 for r in rows)
    # spot-check 5 attributions against a python replay
    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    sample = rows[:5]
    users = {r.user_id for r in sample}
    hist = {}
    for ev in e.filter(F.col("user_id").isin(*users)).collect():
        hist.setdefault(ev.user_id, []).append(ev)
    for r in sample:
        evs = sorted(hist[r.user_id], key=lambda x: (x.us, x.event_id))
        purchase = next(x for x in evs if x.event_id == r.purchase_id)
        touches = [
            x for x in evs
            if x.event_type in ("click", "view")
            and (x.us, x.event_id) < (purchase.us, purchase.event_id)
        ]
        assert touches, r
        assert touches[-1].event_id == r.touch_event_id


def test_data_quality_audit_fires_only_where_expected(spark, sf_dir):
    """Seven named checks. The six integrity/domain checks are clean on
    the generated fixture; ship_after_order FIRES (the synthetic
    generator draws ship dates independent of order dates) — which is
    the point: the detector detects."""
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import audit_data_quality

    rows = {r.check_name: r for r in audit_data_quality(spark, sf_dir).collect()}
    assert len(rows) == 7
    firing = {"ship_after_order", "pk_lineitem_unique"}
    clean = {k: v for k, v in rows.items() if k not in firing}
    assert all(r.n_violations == 0 for r in clean.values()), rows
    for k in firing:
        assert rows[k].n_violations > 0, k
    assert all(r.n_checked > 0 for r in rows.values())


def test_markov_transitions_rows_and_probabilities(spark, sf_dir):
    """Probabilities row-normalize to 1 per from_type and transition
    counts total (events - users-with-events)."""
    from pyspark.sql import functions as F

    from tpc_di_etl_using_pyspark_spark.plans._util import t
    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import (
        events_markov_transitions,
    )

    rows = events_markov_transitions(spark, sf_dir).collect()
    from collections import defaultdict

    psum = defaultdict(float)
    nsum = 0
    for r in rows:
        psum[r.from_type] += r.p
        nsum += r.n
    assert all(abs(v - 1.0) < 1e-4 for v in psum.values()), psum
    e = t(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert nsum == n_events - n_users
