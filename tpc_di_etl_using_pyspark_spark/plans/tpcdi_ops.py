"""TPC-DI pipeline shapes as driver-checked ops: SCD2 dimension build,
running cash balances, CDC apply, and the DImessages audit — the
reference's signature computations [SPEC], run over the test tables
(orders-as-cash-transactions / orders-as-customer-versions analogs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import FINWIRE_CMP_LAYOUT, FINWIRE_FIN_LAYOUT, FINWIRE_SEC_LAYOUT
from ..sources.fixedwidth import read_fixed_width
from ..tpcdi.pipeline import (
    batch_validation,
    cdc_apply,
    fact_cash_balances,
    fact_market_history,
    report,
    scd2_apply_incremental,
    scd2_audit,
    scd2_build,
    scd2_change_filter,
    surrogate_lookup,
)
from .core_scans import _scratch
from ._util import DEC, dround, epoch_s, sql_epoch_floor_s, t
from .registry import op


def _batch_date_shift(v: DataFrame) -> int:
    """Data-derived SCD2 batch shift: the orders date span + 1 day,
    derived as ONE driver-side scalar (the watermark-derivation
    pattern — a 1-row min/max aggregate, not a data collect), so the
    dataflow keeps a LITERAL shift and zero extra plan weight.

    Two deliberate properties:
    - Plan CONSTRUCTION is eager for callers: building the DataFrame
      runs one narrow 1-row Spark job. Tolerated in
      tests/test_plan_lint.py (instead of SIDE_EFFECT-skipping the
      callers) so the built plans stay lint-covered.
    - On an EMPTY orders table the span aggregate is NULL; fall back
      to a 1-day shift instead of raising TypeError — both SCD2
      inputs are empty then, so the result is empty either way.
    - LOUD date-headroom contract: the shifted batch needs max(eff) +
      span + 1 days of room below the DATE type's 9999-12-31 ceiling.
      A date domain ending in ~year 9999 (sentinel or hash-derived
      dates) has none — the synthetic batch construction is then
      impossible in EITHER engine (the DATE type simply cannot represent the
      shifted dates), so raise a ValueError naming the contract
      instead of letting Spark stage-kill with a bare out-of-range.
    """
    row = v.agg(
        F.datediff(F.max("eff"), F.min("eff")).alias("s"),
        F.max("eff").alias("mx"),
    ).first()
    s = row["s"]
    shift = (int(s) if s is not None else 0) + 1
    if row["mx"] is not None:
        import datetime as _dt

        room = (_dt.date(9999, 12, 31) - row["mx"]).days
        if shift > room:
            raise ValueError(
                "scd2 synthetic-batch contract: the date-shifted batch "
                f"(span+1 = {shift} days past max eff {row['mx']}) exceeds "
                "the DATE ceiling 9999-12-31; a date domain this close to "
                "the type maximum cannot host the shifted incremental batch"
            )
    return shift


def _scd2_batches(spark: SparkSession, d: str, *attrs: str) -> tuple[DataFrame, DataFrame]:
    """The SCD2 batch ops' customer action stream, split into the
    historical load ('F' orders) and a later incremental batch ('O'
    orders) whose dates are shifted past ALL history: the shift is the
    data's own date span + 1 day, so the batch never trips
    scd2_apply_incremental's late-arrival guard, on any date domain (a
    fixed shift assumes a narrow span). ``attrs`` are the orders
    columns carried besides the key, tiebreak, status and ``eff``."""
    v = t(spark, d, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        *attrs,
        F.col("o_orderdate").cast("date").alias("eff"),
    )
    hist = v.filter(F.col("o_orderstatus") == "F")
    shift = _batch_date_shift(v)
    batch = v.filter(F.col("o_orderstatus") == "O").withColumn(
        "eff", F.date_add("eff", F.lit(shift))
    )
    return hist, batch


# the oracles' batch shift: the orders date span + 1 day, the scalar
# _batch_date_shift derives
_SHIFT_SQL = (
    "CAST((SELECT datediff('day', MIN(CAST(o_orderdate AS DATE)), "
    "MAX(CAST(o_orderdate AS DATE))) + 1 FROM orders) AS INTEGER)"
)


@op(
    "tpcdi_scd2_dimcustomer",
    """SELECT CAST(o_custkey AS VARCHAR) || '-' || CAST(
                ROW_NUMBER() OVER w AS VARCHAR) AS sk,
              CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
              o_custkey, o_orderstatus, o_orderpriority,
              CAST(o_orderdate AS DATE) AS effective_date,
              COALESCE(LEAD(CAST(o_orderdate AS DATE)) OVER w,
                       DATE '9999-12-31') AS end_date,
              (LEAD(CAST(o_orderdate AS DATE)) OVER w IS NULL) AS is_current
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)""",
)
def tpcdi_scd2_dimcustomer(spark: SparkSession, d: str) -> DataFrame:
    """Full SCD2 dimension build (sk, intervals, is_current) [SPEC:
    DimCustomer history tracking], orders-as-versions."""
    o = t(spark, d, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("eff"),
    )
    return scd2_build(
        o,
        natural_key="o_custkey",
        eff_col="eff",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak="o_orderkey",
    )


@op(
    "tpcdi_scd2_incremental",
    f"""WITH actions AS (
         SELECT o_custkey, o_orderkey, o_orderstatus,
                CAST(o_orderdate AS DATE) AS eff
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_custkey, o_orderkey, o_orderstatus,
                CAST(o_orderdate AS DATE) + {_SHIFT_SQL} AS eff
         FROM orders WHERE o_orderstatus = 'O')
       SELECT CAST(o_custkey AS VARCHAR) || '-' ||
                CAST(ROW_NUMBER() OVER w AS VARCHAR) AS sk,
              CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
              o_custkey, o_orderstatus, eff AS effective_date,
              COALESCE(LEAD(eff) OVER w, DATE '9999-12-31') AS end_date,
              (LEAD(eff) OVER w IS NULL) AS is_current
       FROM actions
       WINDOW w AS (PARTITION BY o_custkey ORDER BY eff, o_orderkey)""",
)
def tpcdi_scd2_incremental(spark: SparkSession, d: str) -> DataFrame:
    """Incremental SCD2 maintenance [SPEC: Batch2/3 dimension updates]:
    the historical dim ('F' orders) gets a later batch ('O' orders,
    dates shifted past the history) applied via scd2_apply_incremental
    — close touched current rows, append continuing versions. The
    oracle states the equivalence invariant: the incrementally
    maintained dimension equals a full rebuild over all actions."""
    hist, batch = _scd2_batches(spark, d)
    dim = scd2_build(hist, "o_custkey", "eff", ["o_orderstatus"], "o_orderkey")
    return scd2_apply_incremental(
        dim, batch, "o_custkey", "eff", ["o_orderstatus"], "o_orderkey"
    )


@op(
    "tpcdi_fact_cash_balances",
    """WITH daily AS (
         SELECT o_custkey AS account_id,
                CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS net_dec
         FROM orders GROUP BY 1, 2)
       SELECT account_id, day,
              CAST(net_dec AS DOUBLE) AS net_flow,
              CAST(SUM(net_dec) OVER (PARTITION BY account_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                AS balance
       FROM daily""",
)
def tpcdi_fact_cash_balances(spark: SparkSession, d: str) -> DataFrame:
    """FactCashBalances [SPEC: cumulative daily cash per account] with
    orders as the cash-transaction stream."""
    o = t(spark, d, "orders")
    return fact_cash_balances(o, "o_custkey", "o_orderdate", "o_totalprice")


@op(
    "tpcdi_cdc_apply",
    """WITH current AS (
         SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderstatus = 'F'),
       cdc AS (
         SELECT o_orderkey, o_custkey, o_totalprice,
                CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END AS cdc_flag,
                o_orderkey AS cdc_dsn
         FROM orders WHERE o_orderstatus = 'O'),
       latest AS (
         SELECT * FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                        ORDER BY cdc_dsn DESC) AS rn
           FROM cdc) WHERE rn = 1)
       SELECT c.o_orderkey, c.o_custkey, c.o_totalprice FROM current c
       WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = c.o_orderkey)
       UNION ALL
       SELECT o_orderkey, o_custkey, o_totalprice FROM latest
       WHERE cdc_flag != 'D'""",
)
def tpcdi_cdc_apply(spark: SparkSession, d: str) -> DataFrame:
    """Incremental CDC apply [SPEC: CDC_FLAG I/U/D, highest CDC_DSN
    wins]: 'F' orders are the current state, 'O' orders the extract."""
    o = t(spark, d, "orders")
    current = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cdc = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_custkey") % 10 == 0, "D").otherwise("U").alias("cdc_flag"),
        F.col("o_orderkey").alias("cdc_dsn"),
    )
    return cdc_apply(current, cdc, ["o_orderkey"])


@op(
    "tpcdi_marketing_nameplate",
    """SELECT c_custkey,
              NULLIF(concat_ws('+',
                CASE WHEN c_acctbal > 5000 THEN 'HighValue' END,
                CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 'Expenses' END,
                CASE WHEN c_custkey % 3 = 0 THEN 'Boomer' END,
                CASE WHEN c_acctbal < 0 THEN 'MoneyAlert' END,
                CASE WHEN c_nationkey > 15 THEN 'Spender' END,
                CASE WHEN c_acctbal > 9000 AND c_custkey % 2 = 0 THEN 'Inherited' END),
              '') AS marketing_nameplate
       FROM customer""",
)
def tpcdi_marketing_nameplate(spark: SparkSession, d: str) -> DataFrame:
    """Prospect MarketingNameplate derivation [SPEC: ordered '+'-joined
    tag list from per-row predicate rules] — the spec's canonical
    conditional-concat exercise, mapped onto customer columns. Pure
    expression (when-chain + concat_ws, which skips NULLs in both
    engines); no UDF."""
    c = t(spark, d, "customer")
    tags = [
        F.when(F.col("c_acctbal") > 5000, "HighValue"),
        F.when(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), "Expenses"),
        F.when(F.col("c_custkey") % 3 == 0, "Boomer"),
        F.when(F.col("c_acctbal") < 0, "MoneyAlert"),
        F.when(F.col("c_nationkey") > 15, "Spender"),
        F.when((F.col("c_acctbal") > 9000) & (F.col("c_custkey") % 2 == 0), "Inherited"),
    ]
    nameplate = F.nullif(F.concat_ws("+", *tags), F.lit(""))
    return c.select("c_custkey", nameplate.alias("marketing_nameplate"))


@op(
    "tpcdi_fact_market_history",
    """WITH daily AS (
         SELECT l_partkey AS key, CAST(l_shipdate AS DATE) AS quote_date,
                MAX(l_extendedprice) AS close_price
         FROM lineitem GROUP BY 1, 2)
       SELECT key, quote_date, close_price,
              MAX(close_price) OVER w AS high_52wk,
              (MAX({'p': close_price, 'd': quote_date}) OVER w).d AS high_52wk_date,
              MIN(close_price) OVER w AS low_52wk,
              (MIN({'p': close_price, 'd': quote_date}) OVER w).d AS low_52wk_date
       FROM daily
       WINDOW w AS (PARTITION BY key ORDER BY quote_date
                    RANGE BETWEEN INTERVAL 364 DAYS PRECEDING AND CURRENT ROW)""",
)
def tpcdi_fact_market_history(spark: SparkSession, d: str) -> DataFrame:
    """FactMarketHistory [SPEC: FiftyTwoWeekHigh/Low + the dates they
    occurred]: daily closes per part from lineitem, trailing-364-day
    RANGE frame, dates via lexicographic struct extremes (tie → latest
    date for highs, earliest for lows, both engines)."""
    li = t(spark, d, "lineitem")
    daily = li.groupBy(
        F.col("l_partkey").alias("key"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(F.max("l_extendedprice").alias("close"))
    return fact_market_history(daily, "key", "day", "close").select(
        "key",
        "quote_date",
        F.col("close_price"),
        "high_52wk",
        "high_52wk_date",
        "low_52wk",
        "low_52wk_date",
    )


@op(
    "tpcdi_prospect_match",
    """WITH prospect AS (
         SELECT CASE WHEN c_custkey > 9223372036849775807
                     THEN c_custkey - 9223372036849775808
                     ELSE c_custkey + 5000000 END AS p_id,
                upper(c_name) AS p_name_up,
                c_acctbal AS p_net_worth
         FROM customer WHERE c_custkey % 3 != 0)
       SELECT c.c_custkey, p.p_id,
              (p.p_id IS NOT NULL) AS is_matched,
              CASE WHEN p.p_id IS NOT NULL AND p.p_net_worth > 5000
                   THEN 'HighValue' END AS matched_tag
       FROM customer c
       LEFT JOIN prospect p ON upper(c.c_name) = p.p_name_up""",
)
def tpcdi_prospect_match(spark: SparkSession, d: str) -> DataFrame:
    """Prospect↔Customer record matching [SPEC: match on upper-cased
    name/address; matched prospects update marketing attributes,
    unmatched stay prospects-only]. The prospect side is a derived
    fixture (2/3 of customers, re-keyed); match is a left join on the
    case-normalized key — broadcast-able at dimension scale."""
    c = t(spark, d, "customer")
    # OVERFLOW-FREE re-key: the naive c_custkey + 5000000 ANSI-overflows
    # within 5e6 of the int64 maximum — reachable when upstream ids are
    # hash-derived (xxhash64-style). Keys in that top band wrap into
    # [0, 5e6), a range the +5e6 branch can never produce for
    # nonnegative keys, so the mapping stays injective; bit-identical to
    # the naive form for every c_custkey <= 2^63-1-5e6 (all shipped
    # fixtures). Oracle mirrors the identical CASE.
    # CONTRACT (counterexample pinned in tests/test_r14_prep.py):
    # injectivity assumes NONNEGATIVE keys — a negative key maps via the
    # +5e6 branch into [0, 5e6) and can collide with a wrapped top-band
    # key (e.g. -4999999 and 2^63-5000000+1 both map to 1). Parity is unaffected (the oracle
    # mirrors the CASE byte-for-byte), but callers feeding signed
    # synthetic keys should normalize them first (abs/pmod, the
    # _split_bucket convention).
    p_id = F.when(
        F.col("c_custkey") > F.lit(9223372036849775807),
        F.col("c_custkey") - F.lit(9223372036849775808),
    ).otherwise(F.col("c_custkey") + 5000000)
    prospect = c.filter(F.col("c_custkey") % 3 != 0).select(
        p_id.alias("p_id"),
        F.upper("c_name").alias("p_name_up"),
        F.col("c_acctbal").alias("p_net_worth"),
    )
    # no broadcast hint: prospect is customer-sized, so at target scale
    # it must be free to shuffle — the planner/AQE broadcasts it while
    # it fits the threshold (same posture as join_broadcast)
    joined = c.join(prospect, F.upper(c.c_name) == prospect.p_name_up, "left")
    return joined.select(
        "c_custkey",
        "p_id",
        F.col("p_id").isNotNull().alias("is_matched"),
        F.when(
            F.col("p_id").isNotNull() & (F.col("p_net_worth") > 5000), "HighValue"
        ).alias("matched_tag"),
    )


@op(
    "tpcdi_fact_holdings",
    """SELECT l_suppkey AS account_id, l_partkey AS security_id,
              CAST(l_shipdate AS DATE) AS trade_date,
              l_orderkey, l_linenumber,
              CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN -l_quantity
                                 ELSE l_quantity END AS DECIMAL(25,6)))
                   OVER (PARTITION BY l_suppkey, l_partkey
                         ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS position_qty
       FROM lineitem""",
)
def tpcdi_fact_holdings(spark: SparkSession, d: str) -> DataFrame:
    """FactHoldings [SPEC: running position per (account, security)
    from the trade stream]: signed quantities (returns negative)
    cumulated over a total order, composite-key window — one shuffle
    on (account, security), DECIMAL-exact at any parallelism."""
    li = t(spark, d, "lineitem")
    signed = F.when(
        F.col("l_returnflag") == "R", -F.col("l_quantity")
    ).otherwise(F.col("l_quantity"))
    w = (
        Window.partitionBy("l_suppkey", "l_partkey")
        .orderBy(F.col("l_shipdate").cast("date"), "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        F.col("l_suppkey").alias("account_id"),
        F.col("l_partkey").alias("security_id"),
        F.col("l_shipdate").cast("date").alias("trade_date"),
        "l_orderkey",
        "l_linenumber",
        F.sum(signed.cast("decimal(25,6)")).over(w).cast("double").alias("position_qty"),
    )


@op(
    "tpcdi_dim_date",
    """SELECT d AS date_value,
              CAST(year(d) AS INTEGER) AS year_num,
              CAST(quarter(d) AS INTEGER) AS quarter_num,
              CAST(month(d) AS INTEGER) AS month_num,
              CAST(weekofyear(d) AS INTEGER) AS week_num,
              CAST(dayofweek(d) AS INTEGER) AS dow,
              dayname(d) AS day_name,
              (dayofweek(d) IN (0, 6)) AS is_weekend,
              ((month(d) = 1 AND day(d) = 1) OR (month(d) = 7 AND day(d) = 4)
               OR (month(d) = 12 AND day(d) = 25)) AS is_holiday
       FROM (SELECT unnest(generate_series(DATE '2003-01-01', DATE '2005-12-31',
                                           INTERVAL 1 DAY))::DATE AS d)""",
)
def tpcdi_dim_date(spark: SparkSession, d: str) -> DataFrame:
    """DimDate calendar build [SPEC: DimDate attribute derivations]:
    generate the day grid with sequence+explode (no source file — the
    dimension is computed), derive year/quarter/month/ISO-week/
    day-of-week/weekend/holiday flags. dow normalized to 0=Sunday
    (Spark's dayofweek is 1-based)."""
    grid = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2003-01-01").cast("date"),
                F.lit("2005-12-31").cast("date"),
            )
        ).alias("date_value")
    )
    dv = F.col("date_value")
    dow = (F.dayofweek(dv) - 1).cast("int")
    return grid.select(
        dv,
        F.year(dv).cast("int").alias("year_num"),
        F.quarter(dv).cast("int").alias("quarter_num"),
        F.month(dv).cast("int").alias("month_num"),
        F.weekofyear(dv).cast("int").alias("week_num"),
        dow.alias("dow"),
        F.date_format(dv, "EEEE").alias("day_name"),
        dow.isin(0, 6).alias("is_weekend"),
        (
            ((F.month(dv) == 1) & (F.dayofmonth(dv) == 1))
            | ((F.month(dv) == 7) & (F.dayofmonth(dv) == 4))
            | ((F.month(dv) == 12) & (F.dayofmonth(dv) == 25))
        ).alias("is_holiday"),
    )


@op(
    "tpcdi_dim_time",
    """SELECT s AS second_of_day,
              CAST(s // 3600 AS INTEGER) AS hour_num,
              CAST((s % 3600) // 60 AS INTEGER) AS minute_num,
              CAST(s % 60 AS INTEGER) AS second_num,
              lpad(CAST(s // 3600 AS VARCHAR), 2, '0') || ':' ||
              lpad(CAST((s % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
              lpad(CAST(s % 60 AS VARCHAR), 2, '0') AS time_value,
              (s >= 9 * 3600 + 1800 AND s < 16 * 3600) AS is_market_hours
       FROM (SELECT unnest(range(0, 86400)) AS s)""",
)
def tpcdi_dim_time(spark: SparkSession, d: str) -> DataFrame:
    """DimTime [SPEC: one row per second of day with hour/minute/second
    and market-hours flag (09:30–16:00)]: computed grid via
    sequence+explode, pairs with tpcdi_dim_date for the calendar
    cross product."""
    grid = spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(86399))).alias("second_of_day")
    )
    s = F.col("second_of_day")
    hh = (s / 3600).cast("int")
    mm = ((s % 3600) / 60).cast("int")
    ss = (s % 60).cast("int")
    return grid.select(
        s.cast("bigint").alias("second_of_day"),
        hh.alias("hour_num"),
        mm.alias("minute_num"),
        ss.alias("second_num"),
        F.concat_ws(
            ":",
            F.lpad(hh.cast("string"), 2, "0"),
            F.lpad(mm.cast("string"), 2, "0"),
            F.lpad(ss.cast("string"), 2, "0"),
        ).alias("time_value"),
        ((s >= 9 * 3600 + 1800) & (s < 16 * 3600)).alias("is_market_hours"),
    )


@op(
    "tpcdi_dim_trade",
    f"""SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN {sql_epoch_floor_s('ts')} END)
                 AS create_ts_s,
               MAX(CASE WHEN event_type = 'purchase' THEN {sql_epoch_floor_s('ts')} END)
                 AS close_ts_s,
               CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
                    THEN 'CMPT'
                    WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) > 0
                    THEN 'CNCL' ELSE 'ACTV' END AS status,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id""",
)
def tpcdi_dim_trade(spark: SparkSession, d: str) -> DataFrame:
    """DimTrade lifecycle resolution [SPEC: create/close dates come
    from the status-change history, status from the terminal state]:
    per entity, conditional min/max over its event timeline — one
    keyed aggregation, map-side combinable."""
    e = t(spark, d, "events")
    sec = epoch_s(F.col("ts"))
    n_purch = F.count(F.when(F.col("event_type") == "purchase", 1))
    n_err = F.count(F.when(F.col("event_type") == "error", 1))
    return e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", sec)).alias("create_ts_s"),
        F.max(F.when(F.col("event_type") == "purchase", sec)).alias("close_ts_s"),
        F.when(n_purch > 0, "CMPT").when(n_err > 0, "CNCL").otherwise("ACTV").alias("status"),
        F.count(F.lit(1)).alias("n_events"),
    )


@op(
    "tpcdi_dimessages",
    """SELECT 1 AS batch_id, 'orders' AS message_source,
              'Row count' AS message_type, CAST(COUNT(*) AS VARCHAR) AS message_text
       FROM orders
       UNION ALL
       SELECT 1, 'lineitem', 'Row count', CAST(COUNT(*) AS VARCHAR) FROM lineitem
       UNION ALL
       SELECT 1, 'customer', 'Row count', CAST(COUNT(*) AS VARCHAR) FROM customer""",
)
def tpcdi_dimessages(spark: SparkSession, d: str) -> DataFrame:
    """DImessages batch-validation rows [SPEC: batch validation]."""
    return batch_validation(
        {
            "orders": t(spark, d, "orders"),
            "lineitem": t(spark, d, "lineitem"),
            "customer": t(spark, d, "customer"),
        },
        batch_id=1,
    )


@op(
    "events_funnel",
    f"""WITH stages AS (
         SELECT user_id,
                MIN(CASE WHEN event_type = 'signup' THEN {sql_epoch_floor_s('ts')} END)
                  AS t_signup,
                MIN(CASE WHEN event_type = 'view' THEN {sql_epoch_floor_s('ts')} END)
                  AS t_view,
                MIN(CASE WHEN event_type = 'purchase' THEN {sql_epoch_floor_s('ts')} END)
                  AS t_purchase
         FROM events GROUP BY user_id)
       SELECT COUNT(*) AS n_users,
              COUNT(t_signup) AS n_signup,
              COUNT(CASE WHEN t_view >= t_signup THEN 1 END) AS n_signup_view,
              COUNT(CASE WHEN t_view >= t_signup AND t_purchase >= t_view
                         THEN 1 END) AS n_full_funnel
       FROM stages""",
)
def events_funnel(spark: SparkSession, d: str) -> DataFrame:
    """Ordered-funnel conversion (signup → first view after signup →
    first purchase after that view) [EXT: product-analytics staple]:
    one keyed aggregation collapses each user's timeline to stage
    timestamps, then a global conditional count — two map-side-
    combinable aggregations, no self-join over events."""
    e = t(spark, d, "events")
    sec = epoch_s(F.col("ts"))

    def first_ts(ev):
        return F.min(F.when(F.col("event_type") == ev, sec))

    stages = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_view") >= F.col("t_signup"), 1)).alias("n_signup_view"),
        F.count(
            F.when(
                (F.col("t_view") >= F.col("t_signup"))
                & (F.col("t_purchase") >= F.col("t_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@op(
    "events_retention",
    """WITH uw AS (
         SELECT DISTINCT user_id,
                CAST(FLOOR(EPOCH(date_trunc('week', ts))) AS BIGINT) AS wk
         FROM events)
       SELECT a.wk AS week_sec,
              CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
              CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS n_retained
       FROM uw a LEFT JOIN uw b
         ON a.user_id = b.user_id AND b.wk = a.wk + 7 * 86400
       GROUP BY a.wk""",
)
def events_retention(spark: SparkSession, d: str) -> DataFrame:
    """Weekly cohort retention (active in week w AND w+1) [EXT:
    product-analytics staple]: distinct (user, week) pairs self-joined
    one week forward — the distinct bounds the join input to
    users×weeks, not events."""
    e = t(spark, d, "events")
    uw = e.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("week", "ts")).alias("wk"),
    ).distinct()
    a = uw.select(F.col("user_id"), F.col("wk"))
    b = uw.select(
        F.col("user_id").alias("b_user"), F.col("wk").alias("b_wk")
    )
    return (
        a.join(
            b,
            (a.user_id == b.b_user) & (b.b_wk == a.wk + 7 * 86400),
            "left",
        )
        .groupBy(F.col("wk").alias("week_sec"))
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.countDistinct("b_user").alias("n_retained"),
        )
    )


# --------------------------------------------------------------------------
# FINWIRE-derived warehouse tables [SPEC: FINWIRE → DimCompany /
# DimSecurity / Financial]. The fixture is one mixed-rectype FINWIRE
# file generated distributively from supplier/part (no driver collect),
# so every op exercises the real multi-record discriminator scan before
# its build. Oracles re-derive the same rows straight from the base
# tables.
# --------------------------------------------------------------------------


def _finwire_fixture(spark: SparkSession, d: str) -> str:
    """Write the mixed CMP/SEC/FIN fixed-width file; returns its path.

    CMP: one ACTV record per supplier (2010-01-01) plus an INAC update
    for every 3rd supplier (2011-04-01) — two SCD2 versions.
    SEC: one ACTV record per part (2010-07-01) plus an INAC update for
    every 4th part (2011-07-01); company link cik = partkey % n_supp + 1.
    FIN: 8 quarters (2010Q1..2011Q4) per supplier with deterministic
    integer measures.
    """
    path = _scratch(d, "finwire")
    sup = t(spark, d, "supplier")
    prt = t(spark, d, "part")
    n_supp = sup.agg(F.count(F.lit(1)).alias("n_supp"))

    name60 = F.rpad(F.rtrim(F.substring("s_name", 1, 60)), 60, " ")
    industry = F.lpad((F.col("s_suppkey") % 10).cast("string"), 2, "0")

    def cmp_line(pts: str, status: str):
        return F.concat(
            F.lit(pts), F.lit("CMP"), name60,
            F.lpad((F.col("s_suppkey") % 10000000000).cast("string"), 10, "0"),
            F.lit(status), industry, F.lit("19900101"),
        ).alias("value")

    cmp1 = sup.select(cmp_line("20100101-120000", "ACTV"))
    cmp2 = sup.filter(F.col("s_suppkey") % 3 == 0).select(
        cmp_line("20110401-120000", "INAC")
    )

    pw = prt.crossJoin(F.broadcast(n_supp))
    cik = F.col("p_partkey") % F.col("n_supp") + 1
    symbol15 = F.rpad(
        F.concat(
            F.lit("S"), F.lpad((F.col("p_partkey") % 100000000).cast("string"), 8, "0")
        ), 15, " "
    )
    issue6 = F.rpad(F.when(F.col("p_partkey") % 2 == 0, "CS").otherwise("PS"), 6, " ")
    name70 = F.rpad(F.rtrim(F.substring("p_name", 1, 70)), 70, " ")
    ex6 = F.rpad(
        F.when(F.col("p_partkey") % 2 == 0, "NYSE").otherwise("NASDQ"), 6, " "
    )
    # pre-reduced (k mod 1e11)·100+7 <= 13 digits: lpad(13) stays a pure
    # pad (never a truncation) and the product cannot ANSI-overflow at
    # hash-scale ids; identical to the naive form for p_partkey < 1e11
    sh13 = F.lpad(
        ((F.col("p_partkey") % 100000000000) * 100 + 7).cast("string"), 13, "0"
    )
    co60 = F.rpad(F.lpad(cik.cast("string"), 10, "0"), 60, " ")

    def sec_line(pts: str, status: str):
        return F.concat(
            F.lit(pts), F.lit("SEC"), symbol15, issue6, F.lit(status),
            name70, ex6, sh13, co60,
        ).alias("value")

    sec1 = pw.select(sec_line("20100701-120000", "ACTV"))
    sec2 = pw.filter(F.col("p_partkey") % 4 == 0).select(
        sec_line("20110701-120000", "INAC")
    )

    sq = sup.select(
        "s_suppkey", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i")
    )
    year = (F.lit(2010) + F.expr("i div 4")).cast("int")
    qstart = F.make_date(year, (F.col("i") % 4) * 3 + 1, F.lit(1))
    fin = sq.select(
        F.concat(
            F.date_format(qstart, "yyyyMMdd"), F.lit("-120000"), F.lit("FIN"),
            year.cast("string"),
            (F.col("i") % 4 + 1).cast("string"),
            F.date_format(qstart, "yyyyMMdd"),
            # key pre-reduced mod 1e10 (the same residue the char(10)
            # CIK fields carry): the 17-char measure fields stay pure
            # pads, the products cannot ANSI-overflow at hash-scale
            # ids, and measure/cik stay mutually consistent; identical
            # to the naive forms for s_suppkey < 1e10
            F.lpad(
                ((F.col("s_suppkey") % 10000000000) * 1000 + F.col("i"))
                .cast("string"), 17, "0",
            ),
            F.lpad(
                ((F.col("s_suppkey") % 10000000000) * 500 + F.col("i"))
                .cast("string"), 17, "0",
            ),
            F.lpad((F.col("s_suppkey") % 50).cast("string"), 12, "0"),
            F.rpad(F.lpad((F.col("s_suppkey") % 10000000000).cast("string"), 10, "0"), 60, " "),
        ).alias("value")
    )

    lines = cmp1.unionByName(cmp2).unionByName(sec1).unionByName(sec2).unionByName(fin)
    lines.write.mode("overwrite").text(path)
    return path


# Rewriting the fixture invalidates the file listing of any frame still
# lazy over the previous write (overwrite = new part-file names), so the
# deterministic fixture is written at most once per path per process.
_FINWIRE_WRITTEN: set[str] = set()


def _finwire_frames(spark: SparkSession, d: str) -> dict:
    if d not in _FINWIRE_WRITTEN:
        _finwire_fixture(spark, d)
        _FINWIRE_WRITTEN.add(d)
    path = _scratch(d, "finwire")
    return read_fixed_width(
        spark,
        path,
        {
            "CMP": FINWIRE_CMP_LAYOUT,
            "SEC": FINWIRE_SEC_LAYOUT,
            "FIN": FINWIRE_FIN_LAYOUT,
        },
    )


def _company_dim_from(cmp: DataFrame) -> DataFrame:
    """FINWIRE CMP frame → SCD2 DimCompany (shared by three ops)."""
    actions = cmp.select(
        F.col("cik").cast("bigint").alias("cik"),
        "company_name",
        "status",
        "industry_id",
        F.to_date(F.substring("pts", 1, 8), "yyyyMMdd").alias("eff"),
    )
    return scd2_build(
        actions, "cik", "eff", ["company_name", "status", "industry_id"], "status"
    )


_COMPANY_CTES = """
comp_actions AS (
  SELECT s_suppkey % 10000000000 AS cik,
         rtrim(substring(s_name, 1, 60)) AS company_name,
         'ACTV' AS status,
         lpad(CAST(s_suppkey % 10 AS VARCHAR), 2, '0') AS industry_id,
         DATE '2010-01-01' AS eff
  FROM supplier
  UNION ALL
  SELECT s_suppkey % 10000000000, rtrim(substring(s_name, 1, 60)), 'INAC',
         lpad(CAST(s_suppkey % 10 AS VARCHAR), 2, '0'), DATE '2011-04-01'
  FROM supplier WHERE s_suppkey % 3 = 0),
dim_company AS (
  SELECT CAST(cik AS VARCHAR) || '-' || CAST(ROW_NUMBER() OVER wc AS VARCHAR) AS sk,
         CAST(ROW_NUMBER() OVER wc AS INTEGER) AS version,
         cik, company_name, status, industry_id,
         eff AS effective_date,
         COALESCE(LEAD(eff) OVER wc, DATE '9999-12-31') AS end_date,
         (LEAD(eff) OVER wc IS NULL) AS is_current
  FROM comp_actions
  WINDOW wc AS (PARTITION BY cik ORDER BY eff, status))
"""


@op(
    "tpcdi_dim_company",
    f"WITH {_COMPANY_CTES} SELECT * FROM dim_company",
)
def tpcdi_dim_company(spark: SparkSession, d: str) -> DataFrame:
    """DimCompany [SPEC: FINWIRE CMP → SCD2 company history]: parse the
    mixed FINWIRE file, slice the CMP layout, history-track by CIK."""
    return _company_dim_from(_finwire_frames(spark, d)["CMP"])


@op(
    "tpcdi_dim_security",
    f"""WITH {_COMPANY_CTES},
n AS (SELECT COUNT(*) AS n_supp FROM supplier),
sec_actions AS (
  SELECT 'S' || lpad(CAST(p_partkey % 100000000 AS VARCHAR), 8, '0') AS symbol,
         rtrim(substring(p_name, 1, 70)) AS name,
         CASE WHEN p_partkey % 2 = 0 THEN 'CS' ELSE 'PS' END AS issue_type,
         'ACTV' AS status,
         CASE WHEN p_partkey % 2 = 0 THEN 'NYSE' ELSE 'NASDQ' END AS ex_id,
         p_partkey % 100000000000 * 100 + 7 AS sh_out,
         p_partkey % n.n_supp + 1 AS cik,
         DATE '2010-07-01' AS eff
  FROM part, n
  UNION ALL
  SELECT 'S' || lpad(CAST(p_partkey % 100000000 AS VARCHAR), 8, '0'),
         rtrim(substring(p_name, 1, 70)),
         CASE WHEN p_partkey % 2 = 0 THEN 'CS' ELSE 'PS' END,
         'INAC',
         CASE WHEN p_partkey % 2 = 0 THEN 'NYSE' ELSE 'NASDQ' END,
         p_partkey % 100000000000 * 100 + 7, p_partkey % n.n_supp + 1, DATE '2011-07-01'
  FROM part, n WHERE p_partkey % 4 = 0),
resolved AS (
  SELECT s.*, c.sk AS sk_company
  FROM sec_actions s LEFT JOIN dim_company c
    ON s.cik = c.cik AND s.eff >= c.effective_date
   AND (s.eff < c.end_date OR c.is_current))
SELECT CAST(symbol AS VARCHAR) || '-' || CAST(ROW_NUMBER() OVER ws AS VARCHAR) AS sk,
       CAST(ROW_NUMBER() OVER ws AS INTEGER) AS version,
       symbol, name, issue_type, status, ex_id, sh_out, cik, sk_company,
       eff AS effective_date,
       COALESCE(LEAD(eff) OVER ws, DATE '9999-12-31') AS end_date,
       (LEAD(eff) OVER ws IS NULL) AS is_current
FROM resolved
WINDOW ws AS (PARTITION BY symbol ORDER BY eff, status)""",
)
def tpcdi_dim_security(spark: SparkSession, d: str) -> DataFrame:
    """DimSecurity [SPEC: FINWIRE SEC → SCD2 security history with the
    company surrogate resolved per record date]: each SEC action looks
    up the DimCompany SK valid at its PTS date (equi-join on CIK plus
    date-range residual — sort-merge/broadcast, never nested-loop),
    then the security history is SCD2-built by symbol."""
    frames = _finwire_frames(spark, d)
    sec = frames["SEC"]
    comp = _company_dim_from(frames["CMP"])
    actions = sec.select(
        "symbol",
        "name",
        "issue_type",
        "status",
        "ex_id",
        F.col("sh_out").cast("bigint").alias("sh_out"),
        F.col("co_name_or_cik").cast("bigint").alias("cik"),
        F.to_date(F.substring("pts", 1, 8), "yyyyMMdd").alias("eff"),
    )
    resolved = surrogate_lookup(actions, comp, "cik", "eff").withColumnRenamed(
        "sk", "sk_company"
    )
    return scd2_build(
        resolved,
        "symbol",
        "eff",
        ["name", "issue_type", "status", "ex_id", "sh_out", "cik", "sk_company"],
        "status",
    )


@op(
    "tpcdi_financial",
    f"""WITH {_COMPANY_CTES},
q AS (SELECT s_suppkey % 10000000000 AS cik, CAST(r.i AS INTEGER) AS i
      FROM supplier CROSS JOIN (SELECT unnest(range(8)) AS i) r),
fin AS (SELECT cik,
               CAST(2010 + i // 4 AS INTEGER) AS year,
               CAST(i % 4 + 1 AS INTEGER) AS quarter,
               make_date(2010 + i // 4, (i % 4) * 3 + 1, 1) AS qtr_start_date,
               cik * 1000 + i AS revenue,
               cik * 500 + i AS earnings,
               cik % 50 AS eps
        FROM q)
SELECT c.sk AS sk_company, f.cik, f.year, f.quarter, f.qtr_start_date,
       CAST(f.revenue AS BIGINT) AS revenue,
       CAST(f.earnings AS BIGINT) AS earnings,
       CAST(f.eps AS BIGINT) AS eps
FROM fin f LEFT JOIN dim_company c
  ON f.cik = c.cik AND f.qtr_start_date >= c.effective_date
 AND (f.qtr_start_date < c.end_date OR c.is_current)""",
)
def tpcdi_financial(spark: SparkSession, d: str) -> DataFrame:
    """Financial [SPEC: FINWIRE FIN → quarterly financials keyed by the
    company SK valid at the quarter start]."""
    frames = _finwire_frames(spark, d)
    fin = frames["FIN"]
    comp = _company_dim_from(frames["CMP"])
    facts = fin.select(
        F.col("co_name_or_cik").cast("bigint").alias("cik"),
        F.col("year").cast("int").alias("year"),
        F.col("quarter").cast("int").alias("quarter"),
        F.to_date("qtr_start_date", "yyyyMMdd").alias("qtr_start_date"),
        F.col("revenue").cast("bigint").alias("revenue"),
        F.col("earnings").cast("bigint").alias("earnings"),
        F.col("eps").cast("bigint").alias("eps"),
    )
    resolved = surrogate_lookup(facts, comp, "cik", "qtr_start_date")
    return resolved.withColumnRenamed("sk", "sk_company").select(
        "sk_company", "cik", "year", "quarter", "qtr_start_date",
        "revenue", "earnings", "eps",
    )


@op(
    "tpcdi_dim_broker",
    """WITH hr AS (
  SELECT c_custkey AS employee_id, c_custkey // 10 AS manager_id,
         CASE WHEN c_custkey % 5 < 2 THEN 314
              ELSE CAST(520 + c_custkey % 3 AS INTEGER) END AS job_code,
         c_name AS last_name,
         'BR' || CAST(c_nationkey AS VARCHAR) AS branch,
         'OF' || CAST(c_custkey % 7 AS VARCHAR) AS office,
         '+1-' || lpad(CAST(c_custkey % 10000000 * 7919 % 10000000 AS VARCHAR), 7, '0') AS phone
  FROM customer),
rep AS (SELECT manager_id, COUNT(*) AS n FROM hr GROUP BY manager_id)
SELECT h.employee_id AS broker_id, h.manager_id, h.last_name, h.branch,
       h.office, h.phone, CAST(COALESCE(r.n, 0) AS BIGINT) AS n_reports
FROM hr h LEFT JOIN rep r ON r.manager_id = h.employee_id
WHERE h.job_code = 314""",
)
def tpcdi_dim_broker(spark: SparkSession, d: str) -> DataFrame:
    """DimBroker [SPEC: HR.csv → brokers (job code 314) with manager
    hierarchy]: the HR extract round-trips a real CSV scratch file
    (write + schema-on-read), brokers get their direct-report count via
    a keyed self-aggregation — no driver-side hierarchy walk."""
    path = _scratch(d, "hr_csv")
    cust = t(spark, d, "customer")
    job = (
        F.when(F.col("c_custkey") % 5 < 2, 314)
        .otherwise(520 + F.col("c_custkey") % 3)
        .cast("int")
    )
    hr = cust.select(
        F.col("c_custkey").alias("employee_id"),
        F.expr("c_custkey div 10").alias("manager_id"),
        job.alias("job_code"),
        F.col("c_name").alias("last_name"),
        F.concat(F.lit("BR"), F.col("c_nationkey").cast("string")).alias("branch"),
        F.concat(F.lit("OF"), (F.col("c_custkey") % 7).cast("string")).alias("office"),
        F.concat(
            F.lit("+1-"),
            # (k·7919) mod 1e7 with the key pre-reduced: identical by
            # modular arithmetic, but the product can no longer ANSI-
            # overflow at hash-scale ids
            F.lpad(
                ((F.col("c_custkey") % 10000000) * 7919 % 10000000).cast("string"),
                7, "0",
            ),
        ).alias("phone"),
    )
    from .core_scans import _bs_escape, _bs_unescape, _CSV_LOSSLESS

    # _bs_escape/_bs_unescape: a last_name equal to the \N null
    # sentinel must survive the CSV hop (see _CSV_LOSSLESS)
    _bs_escape(hr).write.mode("overwrite").options(**_CSV_LOSSLESS).csv(
        path, header=True
    )
    hr2 = _bs_unescape(
        spark.read.options(**_CSV_LOSSLESS).csv(
            path,
            header=True,
            schema=(
                "employee_id bigint, manager_id bigint, job_code int, "
                "last_name string, branch string, office string, phone string"
            ),
        )
    )
    # rename the grouped key before the self-join: both sides share the
    # hr2 lineage and an unaliased manager_id is ambiguous to Spark
    rep = (
        hr2.groupBy("manager_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumnRenamed("manager_id", "_mgr")
    )
    brokers = hr2.filter(F.col("job_code") == 314)
    return brokers.join(
        rep, brokers.employee_id == F.col("_mgr"), "left"
    ).select(
        F.col("employee_id").alias("broker_id"),
        "manager_id",
        "last_name",
        "branch",
        "office",
        "phone",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_reports"),
    )


@op(
    "tpcdi_fact_watches",
    """WITH w AS (
  SELECT o_custkey AS c_id,
         'SYM' || lpad(CAST(o_orderkey % 500 AS VARCHAR), 5, '0') AS symbol,
         'ACTV' AS action, CAST(o_orderdate AS DATE) AS dt
  FROM orders
  UNION ALL
  SELECT o_custkey,
         'SYM' || lpad(CAST(o_orderkey % 500 AS VARCHAR), 5, '0'),
         'CNCL', CAST(o_orderdate AS DATE) + 90
  FROM orders WHERE o_orderkey % 3 = 0)
SELECT c_id, symbol,
       MIN(CASE WHEN action = 'ACTV' THEN dt END) AS date_placed,
       MAX(CASE WHEN action = 'CNCL' THEN dt END) AS date_removed,
       (MAX(CASE WHEN action = 'CNCL' THEN dt END) IS NULL) AS is_active
FROM w GROUP BY c_id, symbol""",
)
def tpcdi_fact_watches(spark: SparkSession, d: str) -> DataFrame:
    """FactWatches [SPEC: WatchHistory W_ACTV/W_CNCL pairing → one row
    per (customer, symbol) with placed/removed dates]: a single
    conditional aggregation over the union of action streams — one
    shuffle on the watch grain, no self-join."""
    o = t(spark, d, "orders")
    sym = F.concat(
        F.lit("SYM"), F.lpad((F.col("o_orderkey") % 500).cast("string"), 5, "0")
    )
    actv = o.select(
        F.col("o_custkey").alias("c_id"),
        sym.alias("symbol"),
        F.lit("ACTV").alias("action"),
        F.col("o_orderdate").cast("date").alias("dt"),
    )
    cncl = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_custkey").alias("c_id"),
        sym.alias("symbol"),
        F.lit("CNCL").alias("action"),
        F.date_add(F.col("o_orderdate").cast("date"), 90).alias("dt"),
    )
    return (
        actv.unionByName(cncl)
        .groupBy("c_id", "symbol")
        .agg(
            F.min(F.when(F.col("action") == "ACTV", F.col("dt"))).alias("date_placed"),
            F.max(F.when(F.col("action") == "CNCL", F.col("dt"))).alias("date_removed"),
        )
        .withColumn("is_active", F.col("date_removed").isNull())
    )


# DimAccount's account id: the customer key and the order key's low
# two bits. The customer key is pre-reduced mod 2^61 so that the
# product cannot ANSI-overflow at hash-scale ids; identical to the
# naive form for every key below 2^61.
_ACCOUNT_ID = "(o_custkey % 2305843009213693952) * 4 + o_orderkey % 4"

# the oracles' DimAccount action stream (acct_actions) and its
# changed-versions filter (acct_f), as tpcdi_scd2_dimaccount builds them
_ACCOUNT_CTES = """
acct_actions AS (
  SELECT o_custkey % 2305843009213693952 * 4 + o_orderkey % 4 AS account_id,
         o_custkey AS customer_id,
         CASE o_orderstatus WHEN 'O' THEN 'ACTV' WHEN 'P' THEN 'SUSP'
              ELSE 'CLSD' END AS status,
         CAST(o_orderkey % 3 AS INTEGER) AS tax_status,
         CAST(o_orderdate AS DATE) AS eff, o_orderkey
  FROM orders),
acct_ch AS (SELECT *, LAG(status) OVER w AS _ps, LAG(tax_status) OVER w AS _pt
            FROM acct_actions
            WINDOW w AS (PARTITION BY account_id ORDER BY eff, o_orderkey)),
acct_f AS (SELECT account_id, customer_id, status, tax_status, eff, o_orderkey
           FROM acct_ch WHERE _ps IS NULL OR status != _ps OR tax_status != _pt)"""


@op(
    "tpcdi_scd2_dimaccount",
    f"""WITH {_ACCOUNT_CTES}
SELECT CAST(account_id AS VARCHAR) || '-' || CAST(ROW_NUMBER() OVER w2 AS VARCHAR) AS sk,
       CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS version,
       account_id, customer_id, status, tax_status,
       eff AS effective_date,
       COALESCE(LEAD(eff) OVER w2, DATE '9999-12-31') AS end_date,
       (LEAD(eff) OVER w2 IS NULL) AS is_current,
       CASE WHEN ROW_NUMBER() OVER w2 = 1 THEN 'ADDACCT'
            WHEN status = 'CLSD' THEN 'CLOSEACCT'
            ELSE 'UPDACCT' END AS action_type
FROM acct_f WINDOW w2 AS (PARTITION BY account_id ORDER BY eff, o_orderkey)""",
)
def tpcdi_scd2_dimaccount(spark: SparkSession, d: str) -> DataFrame:
    """DimAccount [SPEC: CustomerMgmt ADDACCT/UPDACCT/CLOSEACCT → SCD2
    account history]: the account action stream (orders-as-actions at
    account grain, status mapped ACTV/SUSP/CLSD) flows through
    scd2_change_filter (UPDACCT emits a version only on change) and
    scd2_build; action_type labels each version's spec action."""
    o = t(spark, d, "orders")
    status = (
        F.when(F.col("o_orderstatus") == "O", "ACTV")
        .when(F.col("o_orderstatus") == "P", "SUSP")
        .otherwise("CLSD")
    )
    actions = o.select(
        F.expr(_ACCOUNT_ID).alias("account_id"),
        F.col("o_custkey").alias("customer_id"),
        status.alias("status"),
        (F.col("o_orderkey") % 3).cast("int").alias("tax_status"),
        F.col("o_orderdate").cast("date").alias("eff"),
        "o_orderkey",
    )
    changed = scd2_change_filter(
        actions, "account_id", "eff", ["status", "tax_status"], "o_orderkey"
    )
    dim = scd2_build(
        changed, "account_id", "eff", ["customer_id", "status", "tax_status"],
        "o_orderkey",
    )
    return dim.withColumn(
        "action_type",
        F.when(F.col("version") == 1, "ADDACCT")
        .when(F.col("status") == "CLSD", "CLOSEACCT")
        .otherwise("UPDACCT"),
    )


@op(
    "tpcdi_audit_reconciliation",
    f"""WITH {_COMPANY_CTES},
n AS (SELECT COUNT(*) AS n_supp FROM supplier),{_ACCOUNT_CTES},
acct_cur AS (
  SELECT account_id,
         COUNT(*) FILTER (WHERE nxt IS NULL) AS n_current
  FROM (SELECT account_id,
               LEAD(eff) OVER (PARTITION BY account_id
                               ORDER BY eff, o_orderkey) AS nxt
        FROM acct_f)
  GROUP BY account_id),
checks(check_name, expected, actual) AS (
  SELECT 'dim_company_current_rows',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM dim_company WHERE is_current)
  UNION ALL
  SELECT 'dim_company_version_rows',
         (SELECT CAST(COUNT(*) + COUNT(*) FILTER (WHERE s_suppkey % 3 = 0)
                 AS BIGINT) FROM supplier),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM dim_company)
  UNION ALL
  SELECT 'financial_rows',
         (SELECT CAST(8 * n_supp AS BIGINT) FROM n),
         (SELECT CAST(8 * COUNT(DISTINCT cik) AS BIGINT) FROM dim_company)
  UNION ALL
  SELECT 'fact_watches_grain',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM (
            SELECT DISTINCT o_custkey, o_orderkey % 500 FROM orders)),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM (
            SELECT o_custkey,
                   'SYM' || lpad(CAST(o_orderkey % 500 AS VARCHAR), 5, '0')
            FROM orders GROUP BY 1, 2))
  UNION ALL
  SELECT 'dim_account_single_current',
         (SELECT CAST(COUNT(DISTINCT account_id) AS BIGINT) FROM acct_actions),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM acct_cur WHERE n_current = 1))
SELECT check_name, expected, actual, (expected = actual) AS ok FROM checks""",
)
def tpcdi_audit_reconciliation(spark: SparkSession, d: str) -> DataFrame:
    """Audit-phase cross-table reconciliation [SPEC: batch-validation /
    audit queries — counts reconciled across source and warehouse]:
    each check derives an expected count from the SOURCE tables and an
    actual count from the WAREHOUSE build, emitting one
    (check, expected, actual, ok) row. All checks are single
    aggregates — at 100 TB the audit phase is a handful of narrow
    scans/partial aggregations, never a row-level diff."""
    frames = _finwire_frames(spark, d)
    comp = _company_dim_from(frames["CMP"])
    sup = t(spark, d, "supplier")
    o = t(spark, d, "orders")
    acct = tpcdi_scd2_dimaccount(spark, d)
    watches = tpcdi_fact_watches(spark, d)

    # one global aggregate per relation, crossJoined into one stats row
    stats = (
        sup.agg(
            F.count(F.lit(1)).alias("_ns"),
            F.count(F.when(F.col("s_suppkey") % 3 == 0, F.lit(1))).alias("_ns3"),
        )
        .crossJoin(
            comp.agg(
                F.count(F.when(F.col("is_current"), F.lit(1))).alias("_nc_cur"),
                F.count(F.lit(1)).alias("_nc"),
                F.countDistinct("cik").alias("_ncik"),
            )
        )
        .crossJoin(
            o.select("o_custkey", F.col("o_orderkey") % 500)
            .distinct()
            .agg(F.count(F.lit(1)).alias("_nwatch_src"))
        )
        .crossJoin(watches.agg(F.count(F.lit(1)).alias("_nwatch")))
        .crossJoin(
            o.select(F.expr(_ACCOUNT_ID)).distinct().agg(F.count(F.lit(1)).alias("_nacct"))
        )
        .crossJoin(
            acct.groupBy("account_id")
            .agg(F.count(F.when(F.col("is_current"), F.lit(1))).alias("n_cur"))
            .filter(F.col("n_cur") == 1)
            .agg(F.count(F.lit(1)).alias("_nacct_cur"))
        )
    )
    checks = [
        ("dim_company_current_rows", "_ns", "_nc_cur"),
        ("dim_company_version_rows", "_ns + _ns3", "_nc"),
        ("financial_rows", "8 * _ns", "8 * _ncik"),
        ("fact_watches_grain", "_nwatch_src", "_nwatch"),
        ("dim_account_single_current", "_nacct", "_nacct_cur"),
    ]
    return report(
        stats,
        ["check_name", "expected", "actual", "ok"],
        [(f"'{name}'", e, a, f"{e} = {a}") for name, e, a in checks],
    )


@op(
    "tpcdi_reference_dims",
    """WITH st(st_id, st_name) AS (
         VALUES ('ACTV', 'Active'), ('CMPT', 'Completed'),
                ('CNCL', 'Canceled'), ('PNDG', 'Pending'),
                ('SBMT', 'Submitted'), ('INAC', 'Inactive')),
       m AS (SELECT CASE o_orderstatus WHEN 'F' THEN 'CMPT'
                         WHEN 'O' THEN 'ACTV' ELSE 'PNDG' END AS st_id,
                    COUNT(*) AS n
             FROM orders GROUP BY 1)
       SELECT st.st_id, st.st_name,
              CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders
       FROM st LEFT JOIN m ON st.st_id = m.st_id""",
)
def tpcdi_reference_dims(spark: SparkSession, d: str) -> DataFrame:
    """Static reference dimension (StatusType) + FK usage audit
    [SPEC: StatusType.txt → StatusType; batch validation FK checks].

    Reference data is a bounded in-plan VALUES relation (spec
    constants, never a scan); fact statuses map onto it and the LEFT
    join keeps unused codes with zero counts — the referential-
    integrity audit shape. The VALUES side is planner-broadcast."""
    t(spark, d, "orders").createOrReplaceTempView("ref_orders")
    return spark.sql(
        """WITH st AS (
             SELECT * FROM VALUES
               ('ACTV', 'Active'), ('CMPT', 'Completed'),
               ('CNCL', 'Canceled'), ('PNDG', 'Pending'),
               ('SBMT', 'Submitted'), ('INAC', 'Inactive')
               AS t(st_id, st_name)),
           m AS (SELECT CASE o_orderstatus WHEN 'F' THEN 'CMPT'
                             WHEN 'O' THEN 'ACTV' ELSE 'PNDG' END AS st_id,
                        COUNT(*) AS n
                 FROM ref_orders GROUP BY 1)
           SELECT st.st_id, st.st_name,
                  CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders
           FROM st LEFT JOIN m ON st.st_id = m.st_id"""
    )


@op(
    "tpcdi_scd2_hybrid_type1",
    """SELECT CAST(o_custkey AS VARCHAR) || '-' || CAST(
                ROW_NUMBER() OVER w AS VARCHAR) AS sk,
              CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
              o_custkey, o_orderstatus,
              LAST_VALUE(o_orderpriority) OVER (
                PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS current_priority,
              CAST(o_orderdate AS DATE) AS effective_date,
              COALESCE(LEAD(CAST(o_orderdate AS DATE)) OVER w,
                       DATE '9999-12-31') AS end_date,
              (LEAD(CAST(o_orderdate AS DATE)) OVER w IS NULL) AS is_current
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)""",
)
def tpcdi_scd2_hybrid_type1(spark: SparkSession, d: str) -> DataFrame:
    """Hybrid SCD dimension [EXT: the common Type-1/Type-2 mix the pure
    TPC-DI Type-2 spec doesn't exercise]: o_orderstatus versions as
    Type 2 (one row per change, dated intervals), while
    o_orderpriority is Type 1 — the latest value overwrites EVERY
    version of the key, so history never shows a stale value of a
    non-tracked attribute. Both behaviors come from the same
    (natural_key, eff, tiebreak) window partitioning: the Type-1
    backfill is last_value over the unbounded frame — one shuffle+sort
    serves the versioning, the interval math, and the overwrite."""
    o = t(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ver = F.row_number().over(w)
    nxt = F.lead(F.col("o_orderdate").cast("date")).over(w)
    return o.select(
        F.concat(F.col("o_custkey").cast("string"), F.lit("-"), ver.cast("string")).alias("sk"),
        ver.alias("version"),
        "o_custkey",
        "o_orderstatus",
        F.last("o_orderpriority").over(wall).alias("current_priority"),
        F.col("o_orderdate").cast("date").alias("effective_date"),
        F.coalesce(nxt, F.lit("9999-12-31").cast("date")).alias("end_date"),
        nxt.isNull().alias("is_current"),
    )


@op(
    "tpcdi_holdings_pnl",
    """WITH pos AS (
         SELECT l_suppkey AS account_id, l_partkey AS security_id,
                CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN -l_quantity
                                   ELSE l_quantity END AS DECIMAL(25,6)))
                     AS DOUBLE) AS net_qty,
                CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
                                   ELSE l_extendedprice END AS DECIMAL(25,6)))
                     AS DOUBLE) AS net_cost
         FROM lineitem GROUP BY 1, 2),
       lastp AS (
         SELECT l_partkey AS security_id,
                CAST(FLOOR(l_extendedprice * 1000000
                           / NULLIF(l_quantity, 0)) AS BIGINT)
                  AS last_price_micro
         FROM lineitem
         QUALIFY ROW_NUMBER() OVER (
           PARTITION BY l_partkey
           ORDER BY CAST(l_shipdate AS DATE) DESC, l_orderkey DESC,
                    l_linenumber DESC) = 1)
       SELECT account_id, pos.security_id, net_qty, net_cost, last_price_micro,
              CAST(ROUND(CAST(net_qty * last_price_micro / 1000000.0
                              AS DECIMAL(25,6)), 2) AS DOUBLE) AS mkt_value,
              CAST(ROUND(CAST(net_qty * last_price_micro / 1000000.0 - net_cost
                              AS DECIMAL(25,6)), 2) AS DOUBLE) AS unreal_pnl
       FROM pos JOIN lastp ON lastp.security_id = pos.security_id""",
)
def tpcdi_holdings_pnl(spark: SparkSession, d: str) -> DataFrame:
    """Unrealized P&L per (account, security) [SPEC-adjacent: the
    mark-to-market report FactHoldings exists to serve]: exact-decimal
    net position and cost basis per holding, marked at each security's
    as-of-latest trade price (deterministic latest-wins window). Two
    keyed aggregations + one security-keyed join; the per-security
    price relation is securities-sized — broadcastable at any fact
    volume.

    Boundary (a zero-quantity trade): the latest-trade price divides by
    l_quantity, and a ZERO-quantity row landing in the latest
    position killed the stage under ANSI (DIVIDE_BY_ZERO — found the
    moment QTY=25.0 entered the adversarial pool and re-aligned which
    row each partkey's window picks). A zero-quantity trade has no
    derivable price, so the divisor is NULLIF-guarded in BOTH engines
    (every division by a data column is total): last_price_micro,
    mkt_value, unreal_pnl surface NULL for that security instead of
    an exception — at 100 TB one bad row must never kill the job."""
    li = t(spark, d, "lineitem")
    signed_q = F.when(F.col("l_returnflag") == "R", -F.col("l_quantity")).otherwise(
        F.col("l_quantity")
    )
    signed_c = F.when(
        F.col("l_returnflag") == "R", -F.col("l_extendedprice")
    ).otherwise(F.col("l_extendedprice"))
    pos = li.groupBy(
        F.col("l_suppkey").alias("account_id"),
        F.col("l_partkey").alias("security_id"),
    ).agg(
        F.sum(signed_q.cast(DEC)).cast("double").alias("net_qty"),
        F.sum(signed_c.cast(DEC)).cast("double").alias("net_cost"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("l_shipdate").cast("date").desc(),
        F.col("l_orderkey").desc(),
        F.col("l_linenumber").desc(),
    )
    lastp = (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("l_partkey").alias("security_id"),
            # integer micro-units: extprice/qty can land exactly on a
            # .xxxxxx5 midpoint (power-of-two qty), where the engines'
            # double->decimal casts round apart; floor is exact. The
            # divisor is NULLIF-guarded: a zero-qty latest trade has
            # no price (see docstring).
            F.floor(
                F.col("l_extendedprice") * 1000000
                / F.nullif(F.col("l_quantity"), F.lit(0.0))
            )
            .cast("long")
            .alias("last_price_micro"),
        )
    )
    mv = F.col("net_qty") * F.col("last_price_micro") / 1000000.0
    return (
        pos.join(lastp, "security_id")
        .select(
            "account_id",
            "security_id",
            "net_qty",
            "net_cost",
            "last_price_micro",
            dround(mv, 2).alias("mkt_value"),
            dround(mv - F.col("net_cost"), 2).alias("unreal_pnl"),
        )
    )


@op(
    "tpcdi_batch_e2e",
    f"""WITH {_COMPANY_CTES},
cust_actions AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
         CASE WHEN o_orderstatus = 'O' THEN CAST(o_orderdate AS DATE) + {_SHIFT_SQL}
              ELSE CAST(o_orderdate AS DATE) END AS eff
  FROM orders WHERE o_orderstatus IN ('F', 'O')),
dim_customer AS (
  SELECT CAST(o_custkey AS VARCHAR) || '-' ||
           CAST(ROW_NUMBER() OVER w AS VARCHAR) AS sk,
         CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
         o_custkey, eff AS effective_date,
         COALESCE(LEAD(eff) OVER w, DATE '9999-12-31') AS end_date,
         (LEAD(eff) OVER w IS NULL) AS is_current
  FROM cust_actions
  WINDOW w AS (PARTITION BY o_custkey ORDER BY eff, o_orderkey)),
daily AS (
  SELECT o_custkey AS account_id, CAST(date_trunc('day', eff) AS DATE) AS day
  FROM cust_actions GROUP BY 1, 2),
fact_sk AS (
  SELECT f.account_id, f.day, dc.sk
  FROM daily f LEFT JOIN dim_customer dc
    ON f.account_id = dc.o_custkey AND f.day >= dc.effective_date
   AND (f.day < dc.end_date OR dc.is_current)),
chain AS (
  SELECT o_custkey,
         LEAD(effective_date) OVER (PARTITION BY o_custkey
                                    ORDER BY version) AS nxt,
         end_date, is_current
  FROM dim_customer),
violations AS (
  SELECT COUNT(*) AS n FROM (
    SELECT 1 AS v FROM chain
    WHERE (nxt IS NOT NULL AND end_date != nxt)
       OR (nxt IS NULL AND NOT is_current)
    UNION ALL
    SELECT 1 FROM (SELECT o_custkey FROM dim_customer WHERE is_current
                   GROUP BY 1 HAVING COUNT(*) > 1)))
SELECT CAST(2 AS INTEGER) AS batch_id, 'dim_company' AS message_source,
       'Row count' AS message_type,
       CAST((SELECT COUNT(*) FROM dim_company) AS VARCHAR) AS message_text
UNION ALL
SELECT 2, 'dim_customer', 'Row count',
       CAST((SELECT COUNT(*) FROM dim_customer) AS VARCHAR)
UNION ALL
SELECT 2, 'fact_cash_balances', 'Row count',
       CAST((SELECT COUNT(*) FROM fact_sk) AS VARCHAR)
UNION ALL
SELECT 2, 'dim_company', 'Audit current rows',
       CASE WHEN (SELECT COUNT(*) FROM dim_company WHERE is_current)
               = (SELECT COUNT(*) FROM supplier) THEN 'true' ELSE 'false' END
UNION ALL
SELECT 2, 'dim_customer', 'Audit current rows',
       CASE WHEN (SELECT COUNT(*) FROM dim_customer WHERE is_current)
               = (SELECT COUNT(DISTINCT o_custkey) FROM cust_actions)
            THEN 'true' ELSE 'false' END
UNION ALL
SELECT 2, 'dim_customer', 'Audit SCD2 violations',
       CAST((SELECT n FROM violations) AS VARCHAR)
UNION ALL
SELECT 2, 'fact_cash_balances', 'Audit unresolved SK',
       CAST((SELECT COUNT(*) FROM fact_sk WHERE sk IS NULL) AS VARCHAR)""",
)
def tpcdi_batch_e2e(spark: SparkSession, d: str) -> DataFrame:
    """End-to-end multi-batch warehouse program [SPEC: Historical Load →
    Batch2 incremental → audit phases], the composition a reference
    user runs as one dataflow rather than as separately certified ops:

    1. Batch1 historical load: FINWIRE file-fixture scan → DimCompany
       SCD2 (file → fixed-width slice → history), plus the customer
       action stream ('F' orders) → DimCustomer SCD2 via scd2_build.
    2. Batch2 incremental: the 'O' orders (dates shifted past the
       history) applied with scd2_apply_incremental — touched current
       rows closed, versions continue; the maintained dimension equals
       a full rebuild over the combined actions (the invariant the
       oracle states directly).
    3. Facts with SK resolution: daily cash grain over the combined
       stream, each row resolved to its SCD2 surrogate key via
       surrogate_lookup (equi join + date-range residual).
    4. Audit: DImessages row counts for the three warehouse tables plus
       reconciliation rows — current-row counts vs source, SCD2
       chain/multi-current violations (scd2_audit), unresolved SKs.

    Scale shape: each phase keeps its own stage shape (one keyed window
    shuffle per dimension, one grouped shuffle + one window for the
    fact, single-aggregate audit probes); composing them adds no new
    shuffle — phase boundaries in production are parquet sinks, here
    the plan flows straight through. Output: (batch_id,
    message_source, message_type, message_text) — counts as text,
    audit booleans as 'true'/'false'."""
    # --- Batch1: historical load -----------------------------------
    # dim_customer (3 consumers: fact SK resolution + the fused stats
    # pass) is cache()d: in production each batch phase SINKS its
    # warehouse tables to parquet and the next phase re-scans them;
    # cache is the local stand-in for that boundary — without it the
    # audit re-runs the whole SCD2 build per reference. dim_company
    # and fact_sk each have exactly ONE consumer (the stats pass), so
    # caching them would only materialize rows nobody reads twice.
    frames = _finwire_frames(spark, d)
    dim_company = _company_dim_from(frames["CMP"])
    hist, batch2 = _scd2_batches(spark, d, "o_orderpriority", "o_totalprice")
    dim_customer = scd2_build(
        hist, "o_custkey", "eff", ["o_orderstatus", "o_orderpriority"], "o_orderkey"
    )

    # --- Batch2: incremental apply ---------------------------------
    # check_order=False: the ordering precondition holds BY
    # CONSTRUCTION here — every batch2 eff is span+1 days past max(hist
    # eff) via _batch_date_shift — and the eager probe cost a full extra
    # evaluation of the SCD2 build window at plan-build time. The cache's
    # partitions are sized by AQE (get_spark sets
    # canChangeCachedPlanOutputPartitioning), not shuffle.partitions.
    dim_customer = scd2_apply_incremental(
        dim_customer, batch2, "o_custkey", "eff",
        ["o_orderstatus", "o_orderpriority"], "o_orderkey",
        check_order=False,
    ).cache()

    # --- Facts with surrogate-key resolution -----------------------
    stream = hist.unionByName(batch2)
    fact = fact_cash_balances(stream, "o_custkey", "eff", "o_totalprice")
    fact_sk = surrogate_lookup(
        fact, dim_customer, "account_id", "day", dim_key="o_custkey"
    )

    # --- Audit: DImessages + reconciliation ------------------------
    # ONE stats pass per warehouse table, every 1-row aggregate
    # crossJoined into a single 1-row relation, and all seven report
    # rows inline()d from it map-side, so each table is read once.
    stats = (
        dim_company.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count(F.when(F.col("is_current"), 1)).alias("_a"),
        )
        .crossJoin(t(spark, d, "supplier").agg(F.count(F.lit(1)).alias("_e")))
        .crossJoin(scd2_audit(dim_customer, "o_custkey"))
        .crossJoin(stream.agg(F.countDistinct("o_custkey").alias("_ce")))
        .crossJoin(
            fact_sk.agg(
                F.count(F.lit(1)).alias("_fn"),
                F.count(F.when(F.col("sk").isNull(), 1)).alias("_fu"),
            )
        )
    )

    def ok(a: str, e: str) -> str:
        return f"CASE WHEN {a} = {e} THEN 'true' ELSE 'false' END"

    return report(
        stats,
        ["batch_id", "message_source", "message_type", "message_text"],
        [
            ("2", "'dim_company'", "'Row count'", "CAST(_n AS STRING)"),
            ("2", "'dim_company'", "'Audit current rows'", ok("_a", "_e")),
            ("2", "'dim_customer'", "'Row count'", "CAST(n_rows AS STRING)"),
            ("2", "'dim_customer'", "'Audit current rows'", ok("n_current", "_ce")),
            ("2", "'fact_cash_balances'", "'Row count'", "CAST(_fn AS STRING)"),
            ("2", "'fact_cash_balances'", "'Audit unresolved SK'", "CAST(_fu AS STRING)"),
            ("2", "'dim_customer'", "'Audit SCD2 violations'", "CAST(n_violations AS STRING)"),
        ],
    )


@op(
    "events_attribution_last_touch",
    """WITH o AS (
         SELECT event_id, user_id, event_type,
                epoch_us(ts) AS us,
                MAX(CASE WHEN event_type IN ('click', 'view')
                         THEN struct_pack(us := epoch_us(ts), eid := event_id)
                    END) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS touch
         FROM events)
       SELECT event_id AS purchase_id, user_id,
              touch.eid AS touch_event_id,
              CAST(us - touch.us AS BIGINT) AS micros_to_convert
       FROM o
       WHERE event_type = 'purchase' AND touch IS NOT NULL""",
)
def events_attribution_last_touch(spark: SparkSession, d: str) -> DataFrame:
    """Last-touch attribution [EXT: product-analytics staple — credit
    each purchase to the user's most recent prior click/view]: a
    conditional struct-max over a per-user window, ordered by the
    (epoch_us, event_id) total order. Struct max is lexicographic in
    BOTH engines (verify recipe), so the newest touch wins with the id
    as tiebreak; nulls (non-touch rows) are skipped by max in both.
    One per-user window — no self-join, no range join; scales as a
    single keyed sort, and the conversion delta stays in exact integer
    microseconds."""
    e = t(spark, d, "events")
    # events.ts is TIMESTAMP_NTZ at rest; unix_micros needs LTZ — the
    # session TZ is pinned UTC so the cast is an exact reinterpretation
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    touch = F.when(
        F.col("event_type").isin("click", "view"),
        F.struct(us.alias("us"), F.col("event_id").alias("eid")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        e.withColumn("touch", F.max(touch).over(w))
        .withColumn("us", us)
        .filter((F.col("event_type") == "purchase") & F.col("touch").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("touch.eid").alias("touch_event_id"),
            (F.col("us") - F.col("touch.us")).cast("long").alias("micros_to_convert"),
        )
    )


@op(
    "audit_data_quality",
    """WITH li AS (SELECT * FROM lineitem), o AS (SELECT * FROM orders)
       SELECT 'fk_lineitem_orders' AS check_name,
              CAST(COUNT(*) FILTER (WHERE oo.o_orderkey IS NULL) AS BIGINT)
                AS n_violations,
              COUNT(*) AS n_checked
       FROM li LEFT JOIN o oo ON li.l_orderkey = oo.o_orderkey
       UNION ALL
       SELECT 'fk_orders_customer',
              CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
              COUNT(*)
       FROM o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       UNION ALL
       SELECT 'pk_orders_unique',
              CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT), COUNT(*)
       FROM o
       UNION ALL
       SELECT 'pk_lineitem_unique',
              CAST(COUNT(*) - COUNT(DISTINCT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))
                AS BIGINT),
              COUNT(*)
       FROM li
       UNION ALL
       SELECT 'orders_price_positive',
              CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT), COUNT(*)
       FROM o
       UNION ALL
       SELECT 'lineitem_discount_range',
              CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                AS BIGINT),
              COUNT(*)
       FROM li
       UNION ALL
       SELECT 'ship_after_order',
              CAST(COUNT(*) FILTER (WHERE li.l_shipdate < oo.o_orderdate)
                AS BIGINT),
              COUNT(*)
       FROM li JOIN o oo ON li.l_orderkey = oo.o_orderkey""",
)
def audit_data_quality(spark: SparkSession, d: str) -> DataFrame:
    """Multi-table data-quality audit [EXT: the dbt-tests layer as one
    operator — referential integrity, key uniqueness, domain ranges,
    cross-table temporal sanity]: seven named checks unioned into a
    (check_name, n_violations, n_checked) report. The warehouse
    pattern at 100 TB: violations are counted where the data lives;
    only 7 result rows move. On the fixture five checks are clean
    while ship_after_order and pk_lineitem_unique fire — the synthetic
    generator draws ship dates and line numbers independently — a live
    demonstration that the detectors detect, certified against the
    oracle either way.

    Shape (measured 1.83 → 1.30 s at sf0.1 against one pipeline per
    check, outputs identical): four aggregation pipelines instead of
    seven.
    * ONE lineitem⋈orders LEFT join serves BOTH fk_lineitem_orders
      (unmatched rows) and ship_after_order (date comparison on the
      matched rows; n_checked = matched count ≡ the former INNER join
      count) — the two big joins collapse to one.
    * The per-table checks pair up through one grouped pass per
      table: groupBy(pk) with combinable conditional counts, then a
      global roll-up — pk violations = Σcnt − #complete-key groups,
      exactly count(*) − countDistinct(pk) (a NULL key part makes the
      group incomplete, so its rows count as dups — the same NULL
      semantics the former concat-string key had, without
      materializing a string per row, and with no injective string
      encoding to get wrong). count(when) mirrors the oracle's
      COUNT(*) FILTER: 0 over an empty relation (pinned in
      tests/test_empty_slice.py).
    Each single-row aggregate splits into its two report rows via
    report()'s inline() — no extra pass. lineitem is scanned twice
    (was 4×), orders three times (was 5×)."""
    li = t(spark, d, "lineitem")
    o = t(spark, d, "orders")
    c = t(spark, d, "customer")

    fields = ["check_name", "n_violations", "n_checked"]
    j = li.select("l_orderkey", "l_shipdate").join(
        o.select(F.col("o_orderkey").alias("ok"), "o_orderdate"),
        F.col("l_orderkey") == F.col("ok"),
        "left",
    )
    ja = j.agg(
        F.count(F.when(F.col("ok").isNull(), 1)).alias("fkv"),
        F.count(F.lit(1)).alias("nall"),
        F.count(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)).alias(
            "shipv"
        ),
        F.count(F.when(F.col("ok").isNotNull(), 1)).alias("nmatch"),
    )
    p_join = report(
        ja,
        fields,
        [("'fk_lineitem_orders'", "fkv", "nall"), ("'ship_after_order'", "shipv", "nmatch")],
    )

    og = o.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("pv"),
    )
    # COALESCE(...,0): over an EMPTY slice the rollup's sums are NULL
    # (zero groups) while the oracle's COUNT forms are 0 — the audit
    # must report zero, not NULL.
    # count(when(isNotNull)) — NOT count(*) — over the groups:
    # COUNT(DISTINCT o_orderkey) excludes NULL, so the
    # NULL-key group must not count as a distinct key; with n NULL-key
    # rows the former count(*) form reported n-1 violations vs the
    # oracle's n (the lineitem twin below already had the gate)
    oa = og.agg(
        (
            F.coalesce(F.sum("cnt"), F.lit(0))
            - F.count(F.when(F.col("o_orderkey").isNotNull(), 1))
        ).alias("pkv"),
        F.coalesce(F.sum("pv"), F.lit(0)).alias("pricev"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"),
    )
    p_orders = report(
        oa,
        fields,
        [("'pk_orders_unique'", "pkv", "n"), ("'orders_price_positive'", "pricev", "n")],
    )

    lg = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
        ).alias("dv"),
    )
    keynull = F.col("l_orderkey").isNull() | F.col("l_linenumber").isNull()
    la = lg.agg(
        (F.coalesce(F.sum("cnt"), F.lit(0)) - F.count(F.when(~keynull, 1))).alias(
            "pkv"
        ),
        F.coalesce(F.sum("dv"), F.lit(0)).alias("discv"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"),
    )
    p_lineitem = report(
        la,
        fields,
        [("'pk_lineitem_unique'", "pkv", "n"), ("'lineitem_discount_range'", "discv", "n")],
    )

    fk_o = o.join(
        c.select(F.col("c_custkey").alias("ck")),
        o["o_custkey"] == F.col("ck"),
        "left",
    ).agg(
        F.lit("fk_orders_customer").alias("check_name"),
        F.count(F.when(F.col("ck").isNull(), 1)).cast("bigint").alias(
            "n_violations"
        ),
        F.count(F.lit(1)).alias("n_checked"),
    )

    out = p_join
    for nxt in (fk_o, p_orders, p_lineitem):
        out = out.unionByName(nxt)
    return out


@op(
    "events_markov_transitions",
    """WITH o AS (
         SELECT user_id, event_type,
                LAG(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                  AS prev_type
         FROM events),
       tr AS (SELECT prev_type AS from_type, event_type AS to_type,
                     COUNT(*) AS n
              FROM o WHERE prev_type IS NOT NULL
              GROUP BY 1, 2),
       tot AS (SELECT from_type, SUM(n) AS t FROM tr GROUP BY from_type)
       SELECT tr.from_type, tr.to_type, tr.n,
              CAST(ROUND(CAST(tr.n / CAST(tot.t AS DOUBLE) AS DECIMAL(25,6)),
                         6) AS DOUBLE) AS p
       FROM tr JOIN tot ON tot.from_type = tr.from_type""",
)
def events_markov_transitions(spark: SparkSession, d: str) -> DataFrame:
    """Event-type transition matrix [EXT: sequence-model data prep —
    first-order Markov statistics over per-user event streams]: lag
    over the (epoch_us, event_id) total order within each user, then
    one combinable count per (from, to) pair and row-normalized
    probabilities (integer ratio of exact counts — deterministic
    double). One keyed window + two small aggs; the transition matrix
    is event-type² rows regardless of corpus size."""
    e = t(spark, d, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    o = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    tr = o.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = tr.groupBy("from_type").agg(F.sum("n").alias("t"))
    return tr.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        dround(F.col("n") / F.col("t").cast("double"), 6).alias("p"),
    )


@op(
    "events_path_trigrams",
    """WITH s AS (
         SELECT user_id, event_type AS e1,
                lead(event_type, 1) OVER uw AS e2,
                lead(event_type, 2) OVER uw AS e3
         FROM events
         WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)),
       c AS (SELECT e1, e2, e3, COUNT(*) AS n FROM s
             WHERE e2 IS NOT NULL AND e3 IS NOT NULL
             GROUP BY e1, e2, e3)
       SELECT e1, e2, e3, CAST(n AS BIGINT) AS n, rk FROM (
         SELECT e1, e2, e3, n,
                ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3) AS rk
         FROM c) WHERE rk <= 20""",
)
def events_path_trigrams(spark: SparkSession, d: str) -> DataFrame:
    """Top-20 three-step behavioral paths (event-type trigrams per
    user session stream) [EXT: product-flow mining — the 3-step
    extension of events_markov_transitions' pair matrix].

    One keyed window (user_id shuffle) builds the lead-chain triples
    in-row; the count is a map-side-combinable groupBy over a key
    space bounded by |event_types|³ (125 here — tiny at any corpus
    size), and the final top-20 is a single-partition window over that
    bounded relation, not over the events. Total order (n DESC, then
    the three types) makes the ranking deterministic."""
    e = t(spark, d, "events")
    from pyspark.sql import Window

    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(uw).alias("e2"),
        F.lead("event_type", 2).over(uw).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    c = s.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    rw = Window.orderBy(F.col("n").desc(), "e1", "e2", "e3")
    return (
        c.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= 20)
        .select("e1", "e2", "e3", "n", "rk")
    )
