"""SURVEY §2.E window functions — SCD2 and running-balance shapes are
TPC-DI's signature computations [SPEC: DimCustomer history tracking;
FactCashBalances cumulative sum].

Determinism: every ORDER BY in a window includes a unique tiebreak key;
running sums use the DECIMAL(25,6) trick so segment-tree vs sequential
accumulation cannot diverge across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import DEC, SQL_DEC, dround, epoch_s, pz, sql_epoch_floor_s, t
from .registry import op


@op(
    "win_row_number",
    """SELECT o_custkey, o_orderkey,
              ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS rn
       FROM orders""",
)
def win_row_number(spark: SparkSession, d: str) -> DataFrame:
    """Per-key ordinal [SPEC: surrogate-key generation; CDC dedup]."""
    o = t(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))


@op(
    "win_rank_dense",
    """SELECT s_nationkey, s_suppkey, s_acctbal,
              RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rk,
              DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS drk
       FROM supplier""",
)
def win_rank_dense(spark: SparkSession, d: str) -> DataFrame:
    """rank / dense_rank with ties [REF*: reporting]."""
    s = t(spark, d, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return s.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@op(
    "win_lead_scd2",
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS eff_date,
              COALESCE(LEAD(CAST(o_orderdate AS DATE)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                DATE '9999-12-31') AS end_date,
              (LEAD(CAST(o_orderdate AS DATE)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               IS NULL) AS is_current
       FROM orders""",
)
def win_lead_scd2(spark: SparkSession, d: str) -> DataFrame:
    """SCD2 EndDate/IsCurrent via lead() [SPEC: DimCustomer/DimAccount
    history tracking] — orders-as-versions per customer."""
    o = t(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    eff = F.col("o_orderdate").cast("date")
    nxt = F.lead(eff).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        eff.alias("eff_date"),
        F.coalesce(nxt, F.lit("9999-12-31").cast("date")).alias("end_date"),
        nxt.isNull().alias("is_current"),
    )


@op(
    "win_lag_change",
    f"""SELECT user_id, event_id, value,
              value - LAG(value) OVER (
                PARTITION BY user_id
                ORDER BY {sql_epoch_floor_s('ts')}, event_id) AS delta
       FROM events""",
)
def win_lag_change(spark: SparkSession, d: str) -> DataFrame:
    """Change detection vs previous version via lag [SPEC: incremental UPDCUST handling]."""
    e = t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_s("ts"), "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@op(
    "win_running_sum",
    """SELECT o_custkey, o_orderkey,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                AS running_total
       FROM orders""",
)
def win_running_sum(spark: SparkSession, d: str) -> DataFrame:
    """Running balance [SPEC: FactCashBalances = cumulative CT_AMT]."""
    o = t(spark, d, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w).cast("double").alias(
            "running_total"
        ),
    )


@op(
    "win_moving_avg",
    """SELECT l_partkey, l_orderkey, l_linenumber,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) OVER w AS DOUBLE)
                / COUNT(*) OVER w AS mov_avg_price
       FROM lineitem
       WINDOW w AS (PARTITION BY l_partkey
                    ORDER BY CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT),
                             l_orderkey, l_linenumber
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
)
def win_moving_avg(spark: SparkSession, d: str) -> DataFrame:
    """Sliding 7-row moving-average frame [REF*: market smoothing]."""
    li = t(spark, d, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy(F.unix_timestamp("l_shipdate"), "l_orderkey", "l_linenumber")
        .rowsBetween(-6, 0)
    )
    mov = F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return li.select("l_partkey", "l_orderkey", "l_linenumber", mov.alias("mov_avg_price"))


@op(
    "win_range_52wk",
    """SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
              MAX(l_extendedprice) OVER w AS high_52wk,
              MIN(l_extendedprice) OVER w AS low_52wk
       FROM lineitem
       WINDOW w AS (PARTITION BY l_partkey
                    ORDER BY CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT)
                    RANGE BETWEEN 31449600 PRECEDING AND CURRENT ROW)""",
)
def win_range_52wk(spark: SparkSession, d: str) -> DataFrame:
    """Trailing 364-day high/low [SPEC: FactMarketHistory FiftyTwoWeek*].

    RANGE frame over epoch seconds (364 days = 31449600 s) — value-based
    framing, identical in both engines regardless of row ties.
    """
    li = t(spark, d, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy(F.unix_timestamp("l_shipdate"))
        .rangeBetween(-364 * 86400, 0)
    )
    return li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.max("l_extendedprice").over(w).alias("high_52wk"),
        F.min("l_extendedprice").over(w).alias("low_52wk"),
    )


@op(
    "win_first_last_value",
    """SELECT l_partkey, best_price, date_of_best FROM (
         SELECT l_partkey,
                FIRST_VALUE(l_extendedprice) OVER w AS best_price,
                FIRST_VALUE(CAST(l_shipdate AS DATE)) OVER w AS date_of_best,
                ROW_NUMBER() OVER w AS rn
         FROM lineitem
         WINDOW w AS (PARTITION BY l_partkey
                      ORDER BY l_extendedprice DESC,
                               CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT),
                               l_orderkey, l_linenumber))
       WHERE rn = 1""",
)
def win_first_last_value(spark: SparkSession, d: str) -> DataFrame:
    """Date-of-peak-price per part [SPEC: FiftyTwoWeekHighDate shape]."""
    li = t(spark, d, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("l_extendedprice").desc(),
        F.unix_timestamp("l_shipdate"),
        "l_orderkey",
        "l_linenumber",
    )
    return (
        li.select(
            "l_partkey",
            F.first("l_extendedprice").over(w).alias("best_price"),
            F.first(F.col("l_shipdate").cast("date")).over(w).alias("date_of_best"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("l_partkey", "best_price", "date_of_best")
    )


@op(
    "win_ntile_pct",
    """SELECT c_custkey, c_acctbal,
              CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile,
              PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank
       FROM customer""",
)
def win_ntile_pct(spark: SparkSession, d: str) -> DataFrame:
    """ntile / percent_rank tiering [SPEC: Prospect marketing tiers].

    Deliberately unpartitioned: global tiering is the op's semantic
    (single-reducer window — customer is dimension-sized). Fact-scale
    distribution cuts go through agg_percentile / approx_percentile
    instead."""
    c = t(spark, d, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@op(
    "win_cume_dist",
    """SELECT c_custkey, c_acctbal,
              CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS cd
       FROM customer""",
)
def win_cume_dist(spark: SparkSession, d: str) -> DataFrame:
    """Cumulative distribution [EXT]. Global window by semantic —
    dimension-sized input only (see win_ntile_pct note)."""
    c = t(spark, d, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select("c_custkey", "c_acctbal", F.cume_dist().over(w).alias("cd"))


@op(
    "win_forward_fill",
    """SELECT event_id, user_id,
              LAST_VALUE(CASE WHEN event_type != 'error' THEN value END
                         IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS filled_value
       FROM events""",
)
def win_forward_fill(spark: SparkSession, d: str) -> DataFrame:
    """Forward-fill gap repair [EXT: sensor/feed cleaning — carry the
    last known-good reading]: error readings are nulled, then
    last-non-null over an ordered per-key frame fills them. One window
    shuffle; the frame is running (no full-partition buffering)."""
    e = t(spark, d, "events")
    good = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(good, ignorenulls=True).over(w).alias("filled_value"),
    )


@op(
    "win_ratio_total",
    """SELECT o_custkey, o_orderkey,
              CAST(ROUND(CAST(
                o_totalprice / NULLIF(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                                    OVER (PARTITION BY o_custkey) AS DOUBLE), 0.0)
                AS DECIMAL(25,6)), 6) AS DOUBLE) AS share_of_customer
       FROM orders""",
)
def win_ratio_total(spark: SparkSession, d: str) -> DataFrame:
    """Ratio-to-report: each row's share of its partition total [REF*:
    contribution reporting] — unordered partition window (no sort),
    decimal-exact denominator, round(6) for cross-engine float
    equality."""
    o = t(spark, d, "orders")
    w = Window.partitionBy("o_custkey")
    # NULLIF: a partition whose signed amounts cancel to zero has no
    # defined share — NULL in both engines, not a DIVIDE_BY_ZERO
    total = F.nullif(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w).cast("double"),
        F.lit(0.0),
    )
    from ._util import dround

    return o.select(
        "o_custkey",
        "o_orderkey",
        dround(F.col("o_totalprice") / total, 6).alias("share_of_customer"),
    )


@op(
    "win_nth_value",
    """SELECT DISTINCT o_custkey,
              nth_value(o_totalprice, 2) OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                + 0.0 AS second_largest
       FROM orders""",
)
def win_nth_value(spark: SparkSession, d: str) -> DataFrame:
    """Second-largest order per customer via nth_value over a full
    frame [REF*: runner-up reporting] — NULL for single-order keys."""
    o = t(spark, d, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # +0.0 canonicalizes the IEEE zero sign: Spark normalizes -0.0 to
    # +0.0 inside window sort buffers while DuckDB returns the stored
    # -0.0 — same number, different bits, a value-hash mismatch;
    # x + 0.0 maps -0.0 → +0.0 in BOTH
    # engines and is the identity elsewhere (NULL stays NULL).
    return o.select(
        "o_custkey",
        (F.nth_value("o_totalprice", 2).over(w) + F.lit(0.0)).alias(
            "second_largest"
        ),
    ).distinct()


@op(
    "win_streaks",
    """WITH days AS (
         SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day
         FROM orders),
       grp AS (
         SELECT o_custkey, day,
                day - CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                              ORDER BY day) AS INTEGER) AS island
         FROM days)
       SELECT o_custkey, MIN(day) AS streak_start,
              CAST(COUNT(*) AS INTEGER) AS streak_days
       FROM grp GROUP BY o_custkey, island
       HAVING COUNT(*) >= 2""",
)
def win_streaks(spark: SparkSession, d: str) -> DataFrame:
    """Gap-and-islands streak detection (consecutive order days per
    customer, streaks of ≥ 2 days) [REF*: activity-run reporting]:
    the classic date-minus-row_number island key — one window shuffle,
    one aggregation."""
    o = t(spark, d, "orders")
    days = o.select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("day")
    grp = days.withColumn(
        "island", F.date_sub("day", F.row_number().over(w))
    )
    return (
        grp.groupBy("o_custkey", "island")
        .agg(
            F.min("day").alias("streak_start"),
            F.count(F.lit(1)).cast("int").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 2)
        .drop("island")
    )


@op(
    "win_running_distinct",
    f"""WITH f AS (
         SELECT event_type, ts, event_id, user_id,
                ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                   ORDER BY ts, event_id) AS occ
         FROM events)
       SELECT event_type, {sql_epoch_floor_s('ts')} AS ts_sec, event_id,
              CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_users_so_far
       FROM f""",
)
def win_running_distinct(spark: SparkSession, d: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — not natively
    supported by Spark (or most engines) as a window aggregate; the
    standard rewrite marks each key's first occurrence with one window
    and running-sums the marks with a second [EXT: unique-users-to-date
    dashboards]. Both windows shuffle on event_type only once."""
    e = t(spark, d, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = e.withColumn("occ", F.row_number().over(w_first))
    return f.select(
        "event_type",
        epoch_s("ts").alias("ts_sec"),
        "event_id",
        F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
        .over(w_run)
        .cast("bigint")
        .alias("distinct_users_so_far"),
    )


@op(
    "win_pattern_vshape",
    f"""WITH s AS (
         SELECT user_id, event_id, ts, value,
                LAG(value) OVER w AS prev_v,
                LEAD(value) OVER w AS next_v
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       v AS (SELECT user_id, event_id,
                    {sql_epoch_floor_s('ts')} AS ts_sec,
                    prev_v, value, next_v
             FROM s
             WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
               AND value < prev_v AND value < next_v)
       SELECT user_id, event_id, ts_sec,
              CAST(prev_v AS DOUBLE) AS before_v,
              CAST(value AS DOUBLE) AS trough_v,
              CAST(next_v AS DOUBLE) AS after_v
       FROM v""",
)
def win_pattern_vshape(spark: SparkSession, d: str) -> DataFrame:
    """Sequential pattern detection (MATCH_RECOGNIZE-style V-shape:
    down-then-up trough) via lag/lead over the per-user event order —
    the declarative rewrite engines without MATCH_RECOGNIZE use
    [EXT: price-dip / anomaly detection]. One window shuffle."""
    e = t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_id",
        epoch_s("ts").alias("ts_sec"),
        F.lag("value").over(w).alias("prev_v"),
        F.col("value"),
        F.lead("value").over(w).alias("next_v"),
    )
    return s.filter(
        F.col("prev_v").isNotNull()
        & F.col("next_v").isNotNull()
        & (F.col("value") < F.col("prev_v"))
        & (F.col("value") < F.col("next_v"))
    ).select(
        "user_id",
        "event_id",
        "ts_sec",
        F.col("prev_v").cast("double").alias("before_v"),
        F.col("value").cast("double").alias("trough_v"),
        F.col("next_v").cast("double").alias("after_v"),
    )


@op(
    "win_sessionize_gap",
    f"""WITH marked AS (
         SELECT user_id, event_id,
                {sql_epoch_floor_s('ts')} AS ts_s,
                CASE WHEN {sql_epoch_floor_s('ts')}
                          - LAG({sql_epoch_floor_s('ts')}) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                          > 1800
                          OR LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS is_new
         FROM events),
       sess AS (
         SELECT user_id, event_id, ts_s,
                SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
         FROM marked)
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              MIN(ts_s) AS session_start_s, MAX(ts_s) AS session_end_s
       FROM sess GROUP BY user_id, session_id""",
)
def win_sessionize_gap(spark: SparkSession, d: str) -> DataFrame:
    """Batch sessionization: a 30-minute inactivity gap starts a new
    session [EXT: the batch twin of ``stream_session_window``].

    The classic two-window rewrite — lag to mark gap starts, running
    sum of marks to number sessions — needs ONE shuffle on user_id;
    both windows and the final per-session aggregate share that
    partitioning, so Spark plans a single exchange. Timestamps are
    normalized to epoch seconds (ns/µs storage parity, _util)."""
    e = t(spark, d, "events")
    ts_s = epoch_s("ts")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "event_id",
        ts_s.alias("ts_s"),
        F.when(
            (ts_s - F.lag(ts_s).over(order) > 1800)
            | F.lag("ts").over(order).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = marked.withColumn(
        "session_id", F.sum("is_new").over(run).cast("bigint")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_s").alias("session_start_s"),
        F.max("ts_s").alias("session_end_s"),
    )


@op(
    "win_range_time_interval",
    f"""WITH e AS (
         SELECT event_id, user_id,
                {sql_epoch_floor_s('ts')} AS ts_s, value
         FROM events)
       SELECT event_id, user_id, ts_s,
              CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
              CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
                AS sum_1h
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
)
def win_range_time_interval(spark: SparkSession, d: str) -> DataFrame:
    """Time-interval RANGE frame: per-user trailing-1-hour count and
    sum [SPEC: FactMarketHistory 52-week frames, at event-time grain].

    RANGE on epoch seconds (not ROWS) so simultaneous events are frame
    peers in both engines; the frame sum is decimal-routed. One
    shuffle on user_id; the frame scan is a single ordered pass per
    partition."""
    e = t(spark, d, "events")
    base = e.select(
        "event_id",
        "user_id",
        epoch_s("ts").alias("ts_s"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_s",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(25,6)")).over(w).cast("double").alias("sum_1h"),
    )


@op(
    "win_interpolate_linear",
    f"""WITH e AS (
         SELECT event_id, user_id,
                {sql_epoch_floor_s('ts')} AS ts_s, event_type,
                CASE WHEN event_type = 'purchase' THEN value END AS av,
                CASE WHEN event_type = 'purchase'
                     THEN {sql_epoch_floor_s('ts')} END AS at
         FROM events),
       f AS (
         SELECT event_id, user_id, ts_s, event_type,
                LAST_VALUE(av IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY ts_s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
                LAST_VALUE(at IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY ts_s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
                FIRST_VALUE(av IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY ts_s, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
                FIRST_VALUE(at IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY ts_s, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
         FROM e)
       SELECT event_id, user_id, ts_s, event_type,
              CASE WHEN v0 IS NULL OR v1 IS NULL THEN NULL
                   WHEN t1 = t0 THEN v0
                   ELSE v0 + (v1 - v0) * (CAST(ts_s - t0 AS DOUBLE)
                                          / CAST(t1 - t0 AS DOUBLE))
              END AS interp_value
       FROM f""",
)
def win_interpolate_linear(spark: SparkSession, d: str) -> DataFrame:
    """Linear interpolation between sparse anchors [EXT: time-series
    gap fill — sensor/price imputation at event grain].

    Anchors are 'purchase' events; every event gets the straight-line
    value between its surrounding anchors (NULL outside the anchored
    range). Both directional fills share one (user_id, ts) sort, so
    the whole op is a single shuffle + sort with two frame passes.
    The arithmetic keeps an identical IEEE expression tree in both
    engines (exact integer deltas, one divide, one multiply, one
    add), so results are bit-identical without decimal routing."""
    e = t(spark, d, "events").select(
        "event_id",
        "user_id",
        epoch_s("ts").alias("ts_s"),
        "event_type",
        "value",
    )
    is_anchor = F.col("event_type") == "purchase"
    e = e.withColumn("av", F.when(is_anchor, F.col("value"))).withColumn(
        "at", F.when(is_anchor, F.col("ts_s"))
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    f = e.select(
        "event_id",
        "user_id",
        "ts_s",
        "event_type",
        F.last("av", ignorenulls=True).over(back).alias("v0"),
        F.last("at", ignorenulls=True).over(back).alias("t0"),
        F.first("av", ignorenulls=True).over(fwd).alias("v1"),
        F.first("at", ignorenulls=True).over(fwd).alias("t1"),
    )
    interp = (
        F.when(F.col("v0").isNull() | F.col("v1").isNull(), F.lit(None))
        .when(F.col("t1") == F.col("t0"), F.col("v0"))
        .otherwise(
            F.col("v0")
            + (F.col("v1") - F.col("v0"))
            * (
                (F.col("ts_s") - F.col("t0")).cast("double")
                / (F.col("t1") - F.col("t0")).cast("double")
            )
        )
    )
    return f.select(
        "event_id", "user_id", "ts_s", "event_type", interp.alias("interp_value")
    )


@op(
    "win_slope_rolling",
    """WITH x AS (
         SELECT l_partkey, CAST(l_shipdate AS DATE) AS sd, l_orderkey,
                l_linenumber,
                CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) / 86400.0 AS xd,
                l_extendedprice AS y
         FROM lineitem),
       m AS (
         SELECT l_partkey, sd, l_orderkey, l_linenumber,
                CAST(COUNT(*) OVER w AS DOUBLE) AS n,
                CAST(SUM(CAST(xd AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sx,
                CAST(SUM(CAST(y AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sy,
                CAST(SUM(CAST(xd * y AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sxy,
                CAST(SUM(CAST(xd * xd AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sxx
         FROM x
         WINDOW w AS (PARTITION BY l_partkey ORDER BY sd, l_orderkey, l_linenumber
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       SELECT l_partkey, sd, l_orderkey, l_linenumber,
              CASE WHEN n >= 3 AND n * sxx - sx * sx <> 0
                   THEN CAST(ROUND(CAST(
                     (n * sxy - sx * sy) / (n * sxx - sx * sx)
                     AS DECIMAL(25,6)), 6) AS DOUBLE) END AS slope5
       FROM m""",
)
def win_slope_rolling(spark: SparkSession, d: str) -> DataFrame:
    """Rolling regression slope (trailing-5-row price trend per part)
    [EXT: drift/trend detection per entity — the windowed sibling of
    agg_regression_exact]. All four moment sums run as DECIMAL(25,6)
    window aggregates over one (key, date, tiebreak) frame — exact in
    any order, so the closed-form slope is the identical IEEE
    expression in both engines with no rounding mask; degenerate
    frames (n<3 or zero variance) yield NULL. One shuffle+sort
    computes all moments."""
    li = t(spark, d, "lineitem")
    x = li.select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("sd"),
        "l_orderkey",
        "l_linenumber",
        (F.unix_timestamp("l_shipdate") / 86400.0).alias("xd"),
        F.col("l_extendedprice").alias("y"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("sd", "l_orderkey", "l_linenumber")
        .rowsBetween(-4, 0)
    )
    m = x.select(
        "l_partkey",
        "sd",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum(F.col("xd").cast(DEC)).over(w).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).over(w).cast("double").alias("sy"),
        F.sum((F.col("xd") * F.col("y")).cast(DEC)).over(w).cast("double").alias("sxy"),
        F.sum((F.col("xd") * F.col("xd")).cast(DEC)).over(w).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    # dround(6) mask: above the dsum conversion bound the engines can
    # differ by 1 ulp in the moment doubles
    slope = F.when(
        (n >= 3) & (n * sxx - sx * sx != 0),
        dround((n * sxy - sx * sy) / (n * sxx - sx * sx), 6),
    )
    return m.select("l_partkey", "sd", "l_orderkey", "l_linenumber", slope.alias("slope5"))


@op(
    "win_median_rolling",
    """SELECT l_partkey, CAST(l_shipdate AS DATE) AS sd, l_orderkey, l_linenumber,
              quantile_cont(l_extendedprice, 0.5) OVER (
                PARTITION BY l_partkey
                ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 0.0 AS med5
       FROM lineitem""",
)
def win_median_rolling(spark: SparkSession, d: str) -> DataFrame:
    """Rolling median (trailing-5-row order statistic per part) [EXT:
    robust trend smoothing — the outlier-immune sibling of
    win_moving_avg]. Spark's exact percentile over a rows frame is
    bit-identical to DuckDB's quantile_cont (both linear-interpolate
    between the two middle order statistics), so no rounding mask is
    needed — EXCEPT the sign of zero when a frame's middle pair is
    ±x (Spark −0.0, DuckDB +0.0), hence
    pz/+0.0 on the output. One shuffle+sort; the frame sort is reused
    from the window ordering."""
    li = t(spark, d, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy(F.col("l_shipdate").cast("date"), "l_orderkey", "l_linenumber")
        .rowsBetween(-4, 0)
    )
    return li.select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("sd"),
        "l_orderkey",
        "l_linenumber",
        pz(F.percentile("l_extendedprice", F.lit(0.5)).over(w)).alias("med5"),
    )


@op(
    "win_percent_of_parent",
    """WITH y AS (
         SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderstatus,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS rev
         FROM orders GROUP BY 1, 2)
       SELECT yr, o_orderstatus, rev,
              CAST(ROUND(CAST(rev / NULLIF(SUM(rev) OVER (PARTITION BY yr), 0.0)
                              AS DECIMAL(25,6)), 6) AS DOUBLE) AS pct_of_year,
              CAST(ROUND(CAST(SUM(rev) OVER (PARTITION BY yr)
                              / NULLIF(SUM(rev) OVER (), 0.0)
                              AS DECIMAL(25,6)), 6) AS DOUBLE) AS year_pct_of_total
       FROM y""",
)
def win_percent_of_parent(spark: SparkSession, d: str) -> DataFrame:
    """Share-of-parent at two hierarchy levels (status within year,
    year within grand total) — the drill-down report staple. The base
    aggregate is decimal-exact, and both level totals are unframed
    window sums over it (the windowed relation is years×statuses-sized,
    so the unpartitioned total window costs nothing); ratios of
    identical doubles round identically at 1e-6."""
    o = t(spark, d, "orders")
    y = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"), "o_orderstatus"
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("rev"))
    from ._util import dround

    wy = Window.partitionBy("yr")
    wall = Window.partitionBy()
    return y.select(
        "yr",
        "o_orderstatus",
        "rev",
        # NULLIF: a year whose signed revenues cancel to zero has no
        # defined shares
        dround(
            F.col("rev") / F.nullif(F.sum("rev").over(wy), F.lit(0.0)), 6
        ).alias("pct_of_year"),
        dround(
            F.sum("rev").over(wy)
            / F.nullif(F.sum("rev").over(wall), F.lit(0.0)),
            6,
        ).alias("year_pct_of_total"),
    )


@op(
    "win_time_weighted_avg",
    """WITH o AS (
         SELECT user_id, value, epoch_us(ts) AS tus,
                LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt
         FROM events)
       SELECT user_id,
              CAST(ROUND(CAST(
                CAST(SUM(CAST(value * (nxt - tus) AS DECIMAL(38,6))) AS DOUBLE)
                  / SUM(nxt - tus) AS DECIMAL(25,6)), 6) AS DOUBLE) AS twap
       FROM o WHERE nxt IS NOT NULL
       GROUP BY user_id HAVING SUM(nxt - tus) > 0""",
)
def win_time_weighted_avg(spark: SparkSession, d: str) -> DataFrame:
    """Time-weighted average (TWAP) per user [EXT: the market-data /
    metering staple — each observation holds until the next one, so its
    weight is the interval it was live, not 1].  LEAD supplies the
    interval end; the last observation per key carries no interval and
    is excluded, matching the half-open [ts, next_ts) convention.

    Cross-engine exactness: intervals are integer microseconds
    (epoch_us ↔ unix_micros over the NTZ fixture timestamp cast to UTC
    — the session pins spark.sql.session.timeZone=UTC, so the cast is
    the same wall-clock-as-UTC reading DuckDB's naive epoch_us uses;
    only differences matter anyway), each value×interval product
    is one IEEE double multiply (bit-identical in both engines) frozen
    to DECIMAL(25,6) before the order-insensitive exact decimal SUM;
    the final division is one double op rounded at 1e-6.  Scale: one
    window shuffle on user_id (same key reused by the aggregation —
    no second shuffle), no driver state."""
    from ._util import dround

    e = t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dt = F.col("nxt") - F.col("tus")
    return (
        o.groupBy("user_id")
        .agg(
            # DECIMAL(38,6): value x micro-second delta terms overflow
            # 25 digits on wide time gaps
            F.sum((F.col("value") * dt).cast("decimal(38,6)"))
            .cast("double")
            .alias("_wsum"),
            F.sum(dt).alias("_dtsum"),
        )
        .filter(F.col("_dtsum") > 0)
        .select("user_id", dround(F.col("_wsum") / F.col("_dtsum"), 6).alias("twap"))
    )


# --------------------------------------------------------------------------
# Truncated exponential moving average
# --------------------------------------------------------------------------

# alpha = 0.3, 10-term truncation. The weights 0.3*0.7^k are EXACT
# decimals (3*7^k / 10^(k+1)), so w_k * 1e10 are exact BIGINTs and the
# whole fold runs in scaled-integer arithmetic on CENTI-unit values
# (ROUND(value*100) — exact for the 2-dp money contract; >2-dp inputs
# quantize identically in both engines at ingest). Each term
# W10_k * centi is an exact BIGINT and the sum stays < 2^63 for
# |value| up to ~9.9e6 (Σw ≈ 9.28e9 × centi) — a MICRO-unit fold
# overflows ANSI BIGINT at |value| ≳ 990, an absurdly low ceiling for
# a money column; centi-units buy 10^4 more headroom while producing
# BIT-IDENTICAL results on 2-dp inputs (old: HALF_UP(acc·1e4/1e10) ==
# new: HALF_UP(acc/1e6), same integer for micro = centi·1e4). The
# single 6-dp HALF_UP stays integer (±5e5 // 1e6). A
# double-arithmetic first draft hit the .5e-6 midpoint hazard on
# 3/10000 rows (exact-decimal sums land on midpoints; Spark rounds the
# repr, DuckDB the binary); a DECIMAL draft overflowed DuckDB's
# inferred intermediate DECIMAL(18,16). Integers have neither problem.
_EMA_W10 = [3 * 7**k * 10 ** (9 - k) for k in range(10)]

_EMA_TERMS_SQL = " + ".join(
    f"{w} * lag(centi, {k}, 0) OVER uw" if k else f"{w} * centi"
    for k, w in enumerate(_EMA_W10)
)

# Sign-aware HALF_UP (half away from zero): both Spark `div` and
# DuckDB `//` truncate toward zero, so `+half` alone would round
# negative sums half-toward-zero — the half must carry the sum's sign
# (the fixture is non-negative but the contract is not).
_EMA_SQL = f"""
WITH m AS (SELECT event_id, user_id, ts,
                  CAST(round(value * 100) AS BIGINT) AS centi
           FROM events),
s AS (SELECT event_id, user_id, {_EMA_TERMS_SQL} AS acc
      FROM m
      WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       CAST((acc + CASE WHEN acc >= 0 THEN 500000
                        ELSE -500000 END) // 1000000 AS DOUBLE)
         / 1000000 AS ema10
FROM s
"""


@op("win_ema_smooth", _EMA_SQL)
def win_ema_smooth(spark: SparkSession, d: str) -> DataFrame:
    """Truncated exponential moving average per user (alpha=0.3, 10
    terms, zero-padded head) over the event stream [EXT: metric
    smoothing / anomaly baselines].

    The textbook EMA recurrence y_i = a*x_i + (1-a)*y_{i-1} is a
    sequential scan — the closed form y_i = sum_k a(1-a)^k * x_{i-k}
    truncated at 10 terms re-expresses it as a bounded lag chain, so it
    runs as ONE keyed window (shuffle on user_id only) with no
    iteration and no driver state; the dropped tail is < (1-a)^10 ~ 2.8%
    of total weight. Cross-engine exactness: all arithmetic is scaled
    BIGINT (weights x1e10 are exact integers because 0.3*0.7^k is the
    exact decimal 3*7^k/10^(k+1); values x1e6 are exact micro-units),
    with one integer sign-aware HALF_UP (half away from zero — `div`
    truncates toward zero, so the half carries the sum's sign; holds
    for negative values too, property-tested) back to 6 dp — no float
    op until the final exact small-integer / 1e6 (see the module
    comment above for the two rejected float/decimal drafts and their
    midpoint/overflow modes)."""
    e = t(spark, d, "events")
    centi = F.round(F.col("value") * 100).cast("long")
    m = e.select("event_id", "user_id", "ts", centi.alias("centi"))
    # BIGINT `div` keeps the scaled sum exact — a `/` would route
    # it through a double whose ulp at these magnitudes is lossy
    uw = "(PARTITION BY user_id ORDER BY ts, event_id)"
    terms = " + ".join(
        f"{w} * lag(centi, {k}, 0) OVER {uw}" if k else f"{w} * centi"
        for k, w in enumerate(_EMA_W10)
    )
    acc = m.select("event_id", "user_id", F.expr(f"({terms})").alias("acc"))
    ema = F.expr(
        "(acc + CASE WHEN acc >= 0 THEN 500000"
        " ELSE -500000 END) div 1000000"
    )
    return acc.select(
        "event_id", "user_id", (ema.cast("double") / 1000000).alias("ema10")
    )


# --------------------------------------------------------------------------
# Exact rolling correlation
# --------------------------------------------------------------------------

# Recenter epoch seconds to the PER-USER minimum (shift-invariant for
# Pearson) so every windowed moment stays exactly representable:
# x is bounded by the user's time SPAN (fixture: one month → x ≤
# ~2.6e6), y = centi-units of the 2-dp value. Over a 20-row frame the
# extreme magnitudes stay below 2^53 for spans to ~±17 years, so the
# BIGINT→DOUBLE conversions are exact and the final quotient is
# bit-identical across engines. Round 4: the anchor was a fixed
# 2024-01-01 constant, which silently assumed data near 2024 —
# epoch-boundary data overflowed the BIGINT products.
_CORR_SQL = f"""
WITH m0 AS (SELECT event_id, user_id, ts,
                   {sql_epoch_floor_s('ts')} AS s,
                   CAST(round(value * 100) AS BIGINT) AS y
            FROM events),
m AS (SELECT event_id, user_id, ts,
             s - MIN(s) OVER (PARTITION BY user_id) AS x, y
      FROM m0),
s AS (SELECT event_id, user_id,
             COUNT(*) OVER w20 AS n,
             SUM(x) OVER w20 AS sx, SUM(y) OVER w20 AS sy,
             SUM(x * y) OVER w20 AS sxy,
             SUM(x * x) OVER w20 AS sxx,
             SUM(y * y) OVER w20 AS syy
      FROM m
      WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN CAST(ROUND(CAST(
                   CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 AS {SQL_DEC}), 6) AS DOUBLE)
            ELSE NULL END AS corr20
FROM s
"""


@op("win_rolling_corr", _CORR_SQL)
def win_rolling_corr(spark: SparkSession, d: str) -> DataFrame:
    """Rolling Pearson correlation between event value and time over
    the trailing 20 events per user [EXT: trend/drift detection —
    corr(value, t) near ±1 flags a monotone run].

    corr is assembled from five integer window moments (n, Σx, Σy,
    Σxy, Σx², Σy²) over ONE keyed window — no second pass, no
    mean-subtraction pass; the computational-formula numerator/
    denominators stay exact BIGINTs (see the recentering bound note
    above), and the single float step is one exactly-seeded quotient
    of square roots, frozen at 6 dp. Windows with < 2 rows or zero
    variance yield NULL in both engines. Scale: the five moments ride
    the same user_id shuffle any rolling metric needs; nothing global,
    no driver state."""
    e = t(spark, d, "events")
    # recenter x to the PER-USER minimum epoch: a fixed 2024 epoch
    # anchor silently assumes data near 2024 — data at the epoch
    # boundary overflows the exact-BIGINT moment products. Pearson correlation is shift-invariant, so per-user
    # recentering changes nothing semantically while bounding x by
    # the per-user time span (exactness holds to ~±17-year spans).
    wu = Window.partitionBy("user_id")
    m0 = e.select(
        "event_id",
        "user_id",
        "ts",
        epoch_s("ts").alias("s"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    m = m0.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("s") - F.min("s").over(wu)).alias("x"),
        "y",
    )
    w20 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    s = m.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w20).alias("n"),
        F.sum("x").over(w20).alias("sx"),
        F.sum("y").over(w20).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w20).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w20).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w20).alias("syy"),
    )
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.round(
        (num.cast("double") / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double")))).cast(DEC),
        6,
    ).cast("double")
    return s.select(
        "event_id",
        "user_id",
        F.when((d1 > 0) & (d2 > 0), corr).otherwise(F.lit(None)).alias("corr20"),
    )
