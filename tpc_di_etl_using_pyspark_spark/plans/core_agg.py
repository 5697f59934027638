"""SURVEY §2.D aggregations. Flagship pricing-summary (TPC-H-Q1-shaped)
lives here as ``agg_groupby_basic`` — it is also ``entry()``'s query.

Float discipline (_util): double sums go through DECIMAL(25,6) so the
result is independent of partition/merge order; averages are
exact-sum / count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import DEC, SQL_DEC, davg, dround, dsum, epoch_s, pz, spread_scan, sql_davg, sql_dround, sql_dsum, t
from .registry import op


FLAGSHIP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_extendedprice', 'avg_price')},
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@op("agg_groupby_basic", FLAGSHIP_SQL)
def agg_groupby_basic(spark: SparkSession, d: str) -> DataFrame:
    """Pricing summary: scan→filter→derive→agg (SURVEY §7.2).

    spread_scan (r13, guide §2.5): the six decimal partial aggregates
    are the per-row cost center and the fixture scan is one task;
    re-spreading on the order key halved the op at sf0.1 (1.34 →
    0.64 s) and is a no-op on any well-split input."""
    li = spread_scan(t(spark, d, "lineitem"), "l_orderkey")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@op(
    "agg_global",
    f"""SELECT COUNT(*) AS n_rows,
               {sql_dsum('l_extendedprice', 'total_price')},
               {sql_davg('l_quantity', 'avg_qty')},
               MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        FROM lineitem""",
)
def agg_global(spark: SparkSession, d: str) -> DataFrame:
    """Ungrouped audit totals [SPEC: batch validation counts]."""
    li = t(spark, d, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice", "total_price"),
        davg("l_quantity", "avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@op(
    "agg_count_distinct",
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
              COUNT(*) AS n_orders
       FROM orders GROUP BY o_orderstatus""",
)
def agg_count_distinct(spark: SparkSession, d: str) -> DataFrame:
    """Distinct counts per group [SPEC: audit distincts]."""
    o = t(spark, d, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@op(
    "agg_approx_count_distinct",
    """SELECT event_type,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
              TRUE AS hll_within_10pct
       FROM events GROUP BY event_type""",
)
def agg_approx_count_distinct(spark: SparkSession, d: str) -> DataFrame:
    """HyperLogLog approximate distinct [EXT: 100 TB posture].

    Self-verifying: the query computes BOTH the HLL estimate and the
    exact distinct, and emits the exact count plus a within-tolerance
    flag, so the sketch's accuracy contract is what the driver hashes
    (measured max rel. error 6.7% at sf0.1 with default rsd=0.05 →
    10% band). At 100 TB only the HLL column survives; the exact
    column here is the certification harness."""
    e = t(spark, d, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id").alias("_approx"),
    ).select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("hll_within_10pct"),
    )


@op(
    "agg_conditional",
    """SELECT o_orderstatus,
              CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_urgent,
              CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_high,
              CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_other
       FROM orders GROUP BY o_orderstatus""",
)
def agg_conditional(spark: SparkSession, d: str) -> DataFrame:
    """SUM(CASE WHEN ...) pivot-style measures [SPEC: DImessages rollups]."""
    o = t(spark, d, "orders")

    def flag(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    return o.groupBy("o_orderstatus").agg(
        flag(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        flag(F.col("o_orderpriority") == "2-HIGH").alias("n_high"),
        flag(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).alias("n_other"),
    )


@op(
    "agg_having",
    """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
       GROUP BY o_custkey HAVING COUNT(*) > 8""",
)
def agg_having(spark: SparkSession, d: str) -> DataFrame:
    """Post-aggregation filter (HAVING) [SPEC: validation thresholds]."""
    o = t(spark, d, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 8)
    )


@op(
    "agg_first_last",
    """WITH k AS (
         SELECT user_id, value,
                CAST((epoch_us(ts) - ((epoch_us(ts) % 1000000 + 1000000)
                                      % 1000000)) // 1000000 AS HUGEINT)
                  * 18446744073709551616::HUGEINT + event_id AS ord
         FROM events)
       SELECT user_id,
              arg_min(value, ord) AS first_value,
              arg_max(value, ord) AS last_value
       FROM k GROUP BY user_id""",
)
def agg_first_last(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic first/last value per group [SPEC: CDC latest-record wins].

    Ordered by the LEXICOGRAPHIC struct (epoch-sec, event_id), not by
    arrival order. The former single-scalar key epoch_s*1e7+event_id
    ANSI-overflowed at hash-scale event_ids and silently interleaved
    ids >= 1e7 into the epoch digits (r12 extremes probe,
    tools/probe_r12_extremes.py); struct min_by/max_by is exact at any
    id magnitude. The oracle mirrors with a 128-bit HUGEINT key
    epoch*2^64 + event_id — equivalent to the lexicographic order
    because the event_id range (2^64-1 wide) fits strictly inside one
    2^64 epoch step. Bit-identical to the old pair wherever the old
    key didn't overflow or interleave.

    Plan note (audited r12): the struct-typed min_by buffer is not a
    mutable primitive, so the partial/final pair plans as
    SortAggregate instead of HashAggregate — one extra per-partition
    sort on the single user_id grouping column. Accepted: every
    63-bit packing that keeps a HashAggregate buffer either overflows
    (the old key) or cannot host epoch+full-id (38+64 bits > 63), and
    a wrong-order or stage-killing key costs more at 100 TB than a
    grouping-key sort. Map-side partial_min_by is retained either
    way.

    NULL-gated key (r14, ADVICE r12 medium, pinned in
    tests/test_r14_prep.py): a bare struct key is never NULL (a null
    field sorts FIRST inside it), so a NULL-ts row would win min_by
    while the oracle's HUGEINT key NULL-propagates and arg_min skips
    it; gating the struct to NULL when either field is NULL makes
    min_by/max_by skip exactly like arg_min/arg_max. Identical
    wherever ts/event_id are non-NULL (the fixture always; the gate
    is for the NULL-bearing general case)."""
    e = t(spark, d, "events")
    ordkey = F.struct(epoch_s("ts").alias("s"), F.col("event_id").alias("i"))
    gated = F.when(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull(), ordkey
    )
    return e.groupBy("user_id").agg(
        F.min_by("value", gated).alias("first_value"),
        F.max_by("value", gated).alias("last_value"),
    )


@op(
    "agg_rollup",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderstatus,
              CAST(GROUPING(CAST(year(o_orderdate) AS INTEGER)) * 2
                   + GROUPING(o_orderstatus) AS INTEGER) AS gid,
              COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
       FROM orders
       GROUP BY ROLLUP(CAST(year(o_orderdate) AS INTEGER), o_orderstatus)
       HAVING COUNT(*) > 0""",
)
def agg_rollup(spark: SparkSession, d: str) -> DataFrame:
    """ROLLUP subtotal hierarchy [SPEC: batch -> table -> total audit
    report].

    Empty-input semantics (r11 empty-slice sweep): Spark's rollup
    emits NO rows over empty input, while the SQL standard (and
    DuckDB) emit the () grouping set's grand-total row with count 0.
    The contract here is observed-groups-only — the oracle's
    HAVING COUNT(*) > 0 is a no-op on any non-empty input (every
    grouping-set row aggregates ≥ 1 source row) and drops only the
    empty-input phantom row."""
    o = t(spark, d, "orders").withColumn("o_year", F.year("o_orderdate").cast("int"))
    return (
        o.rollup("o_year", "o_orderstatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total"),
        )
        .select("o_year", "o_orderstatus", "gid", "n_orders", "total")
    )


@op(
    "agg_cube",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderstatus,
              CAST(GROUPING(CAST(year(o_orderdate) AS INTEGER)) * 2
                   + GROUPING(o_orderstatus) AS INTEGER) AS gid,
              COUNT(*) AS n_orders
       FROM orders
       GROUP BY CUBE(CAST(year(o_orderdate) AS INTEGER), o_orderstatus)
       HAVING COUNT(*) > 0""",
)
def agg_cube(spark: SparkSession, d: str) -> DataFrame:
    """CUBE all-combination subtotals [EXT]. Observed-groups-only on
    empty input (see agg_rollup — the oracle HAVING mirrors Spark's
    no-rows-over-empty semantics at zero cost on real data)."""
    o = t(spark, d, "orders").withColumn("o_year", F.year("o_orderdate").cast("int"))
    return (
        o.cube("o_year", "o_orderstatus")
        .agg(F.grouping_id().cast("int").alias("gid"), F.count(F.lit(1)).alias("n_orders"))
        .select("o_year", "o_orderstatus", "gid", "n_orders")
    )


@op(
    "agg_grouping_sets",
    """SELECT o_orderpriority, o_orderstatus,
              CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INTEGER) AS gid,
              COUNT(*) AS n_orders
       FROM orders
       GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
       HAVING COUNT(*) > 0""",
)
def agg_grouping_sets(spark: SparkSession, d: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() discriminator [EXT].
    Observed-groups-only on empty input (see agg_rollup — the oracle
    HAVING mirrors Spark's no-rows-over-empty semantics at zero cost
    on real data)."""
    o = t(spark, d, "orders")
    o.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """SELECT o_orderpriority, o_orderstatus,
                  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT) AS gid,
                  COUNT(*) AS n_orders
           FROM gs_orders
           GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())"""
    )


@op(
    "agg_stats",
    f"""SELECT l_returnflag,
              {sql_dround('stddev_samp(l_quantity)', 2)} AS sd_qty,
              {sql_dround('var_samp(l_quantity)', 2)} AS var_qty,
              {sql_dround(
                  'covar_samp(l_quantity, l_extendedprice)'
                  ' / NULLIF(stddev_samp(l_quantity)'
                  ' * stddev_samp(l_extendedprice), 0.0)', 6)}
                AS corr_qty_price
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_stats(spark: SparkSession, d: str) -> DataFrame:
    """stddev / variance / correlation statistics [SPEC: Prospect
    credit-score aggregates].

    corr is the guarded covar_samp / NULLIF(sd*sd, 0) form, not the
    builtin: Spark's `corr` divides internally, so a zero-variance
    group throws ANSI DIVIDE_BY_ZERO (r11 probe — one constant-valued
    group kills the whole job) while DuckDB's returns NULL. The
    guarded form is NULL on zero-variance and single-row groups in
    BOTH engines and bit-identical to builtin corr on normal groups
    (probe-verified); dround(6) masks accumulation-order ulp."""
    li = t(spark, d, "lineitem")
    corr = F.covar_samp("l_quantity", "l_extendedprice") / F.nullif(
        F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
        F.lit(0.0),
    )
    return li.groupBy("l_returnflag").agg(
        dround(F.stddev_samp("l_quantity"), 2).alias("sd_qty"),
        dround(F.var_samp("l_quantity"), 2).alias("var_qty"),
        dround(corr, 6).alias("corr_qty_price"),
    )


@op(
    "agg_percentile",
    """SELECT l_returnflag,
              quantile_cont(l_extendedprice, 0.25) + 0.0 AS p25,
              quantile_cont(l_extendedprice, 0.5) + 0.0 AS p50,
              quantile_cont(l_extendedprice, 0.95) + 0.0 AS p95
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_percentile(spark: SparkSession, d: str) -> DataFrame:
    """Exact interpolated percentiles per group [EXT: quality-score /
    length-distribution cuts in data pipelines]. Spark `percentile`
    and DuckDB `quantile_cont` share linear interpolation — verified
    bit-identical on this fixture, EXCEPT the sign of zero when the
    interpolation lands between a ±pair (Spark −0.0, DuckDB +0.0;
    r11 adversarial find) — hence the pz/+0.0 canonicalization on
    every output. At 100 TB prefer `approx_percentile` (t-digest,
    map-side combinable); the exact form sorts each group."""
    li = t(spark, d, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pz(F.expr("percentile(l_extendedprice, 0.25)")).alias("p25"),
        pz(F.expr("percentile(l_extendedprice, 0.5)")).alias("p50"),
        pz(F.expr("percentile(l_extendedprice, 0.95)")).alias("p95"),
    )


@op(
    "agg_pivot",
    """SELECT o_orderstatus,
              CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                   AS BIGINT) AS urgent,
              CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
                   AS BIGINT) AS high,
              CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
                   AS BIGINT) AS medium,
              CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
                   AS BIGINT) AS unspecified,
              CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
                   AS BIGINT) AS low
       FROM orders GROUP BY o_orderstatus""",
)
def agg_pivot(spark: SparkSession, d: str) -> DataFrame:
    """Wide pivot: one column per pivot value [REF*: cross-tab audit
    reports]. The pivot value list is explicit — at scale an implicit
    pivot runs an extra distinct-collect job on the driver."""
    o = t(spark, d, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    renames = [
        ("1-URGENT", "urgent"),
        ("2-HIGH", "high"),
        ("3-MEDIUM", "medium"),
        ("4-NOT SPECIFIED", "unspecified"),
        ("5-LOW", "low"),
    ]
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{src}`"), F.lit(0)).alias(dst) for src, dst in renames],
    )


@op(
    "agg_unpivot",
    f"""WITH wide AS (
         SELECT l_returnflag,
                {sql_dsum('l_quantity', 'sum_qty')},
                {sql_dsum('l_discount', 'sum_disc')}
         FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
       UNION ALL
       SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM wide""",
)
def agg_unpivot(spark: SparkSession, d: str) -> DataFrame:
    """Unpivot/melt wide measures to long form [EXT: feature-table
    reshaping]; narrow transform, no shuffle beyond the agg."""
    li = t(spark, d, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", "sum_qty"), dsum("l_discount", "sum_disc")
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@op(
    "agg_collect_sorted",
    """SELECT o_custkey,
              COALESCE(
                array_to_string(list_sort(list(DISTINCT o_orderstatus)), ','),
                '') AS statuses,
              COUNT(*) AS n_orders
       FROM orders GROUP BY o_custkey""",
)
def agg_collect_sorted(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic array aggregation: collect_set + sort_array (the
    unsorted collect_list is shuffle-order-nondeterministic — never
    hash-comparable) [EXT: per-entity feature lists].

    The sorted set is emitted as a ','-joined flat string: the r5
    driver canonicalizer cannot hash an array<string> output column
    (pandas factorize → unhashable 'list'), so both engines project
    the identical deterministic join. o_orderstatus is single-char,
    so the join is lossless."""
    o = t(spark, d, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@op(
    "agg_approx_percentile",
    """SELECT l_returnflag,
              quantile_cont(l_extendedprice, 0.25) + 0.0 AS p25,
              quantile_cont(l_extendedprice, 0.5) + 0.0 AS p50,
              quantile_cont(l_extendedprice, 0.95) + 0.0 AS p95,
              CASE WHEN COUNT(l_extendedprice) >= 1000
                        AND MIN(l_extendedprice) > 0
                   THEN TRUE END AS approx_within_2pct
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_approx_percentile(spark: SparkSession, d: str) -> DataFrame:
    """approx_percentile (sketch): the 100 TB path for distribution
    cuts — map-side combinable, bounded memory, no per-group sort.

    Self-verifying: emits the exact percentiles (Spark `percentile` ==
    DuckDB `quantile_cont` bit-exact up to pz's ±0.0 canonicalization)
    plus a flag that the sketch at accuracy=10000 lands within 2% of
    each (measured max rel. error 0.4% across sf0.001–0.1). The 2%
    RELATIVE tolerance is calibrated for groups away from sign
    changes; a tiny group whose target interpolates across a wide or
    sign-crossing gap is OUT OF CONTRACT (r11 probe) — the flag is
    NULL there, in BOTH engines, via a mechanical gate the oracle
    computes too: n >= 1000 non-null values AND min > 0 (ADVICE r11:
    the contract was previously a hardcoded-TRUE oracle plus prose,
    so fixture drift into the tiny-group class would have become a
    cert failure instead of a gated row). In contract, the MEASURED
    flag ships — a sketch regression past 2% on an in-contract group
    fails certification loudly, as it should. At 100 TB only the
    sketch runs; the exact column is the certification harness."""
    li = t(spark, d, "lineitem")
    ex = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.95))")
    ap = F.expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.95), 10000)")
    agg = li.groupBy("l_returnflag").agg(
        ex.alias("_ex"),
        ap.alias("_ap"),
        F.count("l_extendedprice").alias("_n"),
        F.min("l_extendedprice").alias("_mn"),
    )
    ok = F.forall(
        F.zip_with(
            "_ex", "_ap", lambda e, a: F.abs(a - e) <= 0.02 * F.abs(e)
        ),
        lambda x: x,
    )
    in_contract = (F.col("_n") >= 1000) & (F.col("_mn") > 0)
    return agg.select(
        "l_returnflag",
        pz(F.element_at("_ex", 1)).alias("p25"),
        pz(F.element_at("_ex", 2)).alias("p50"),
        pz(F.element_at("_ex", 3)).alias("p95"),
        F.when(in_contract, ok).alias("approx_within_2pct"),
    )


@op(
    "agg_bool",
    """SELECT o_orderstatus,
              bool_and(o_totalprice > 1000) AS all_over_1k,
              bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
              CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_large
       FROM orders GROUP BY o_orderstatus""",
)
def agg_bool(spark: SparkSession, d: str) -> DataFrame:
    """Boolean aggregates (every/any/count_if) [SPEC: batch-validation
    predicates — 'all rows in range', 'any failures'] — map-side
    combinable like any other algebraic aggregate."""
    o = t(spark, d, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
    )


@op(
    "agg_string_concat_group",
    """SELECT o_custkey,
              COALESCE(string_agg(DISTINCT o_orderpriority, '|'
                                  ORDER BY o_orderpriority), '')
                AS priorities
       FROM orders GROUP BY o_custkey""",
)
def agg_string_concat_group(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic grouped string aggregation: collect_set →
    sort_array → array_join (an unordered string_agg is
    shuffle-order-nondeterministic and never hash-comparable)
    [REF*: code-list denormalization].

    All-NULL groups: collect_set drops NULLs, so Spark's array_join
    over the empty set yields '' while DuckDB's string_agg over zero
    values yields NULL (the r4 array_to_string([]) class, found again
    by the r12-window probe) — the oracle COALESCEs to '' to match
    the Spark contract (empty list, not unknown)."""
    o = t(spark, d, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderpriority")), "|"
        ).alias("priorities")
    )


@op(
    "agg_weighted_avg",
    f"""SELECT l_returnflag,
               CAST(ROUND(CAST(
               CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(25,6)))
                    AS DOUBLE) /
               NULLIF(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE), 0.0)
                 AS DECIMAL(25,6)), 6) AS DOUBLE) AS wavg_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_returnflag""",
)
def agg_weighted_avg(spark: SparkSession, d: str) -> DataFrame:
    """Quantity-weighted average price [SPEC: volume-weighted market
    measures] — both sums decimal-routed so the ratio is the division
    of two identical IEEE doubles in either engine.

    NULLIF on the weight sum (r11 denominator sweep, the
    win_ratio_total / tpcdi_holdings_pnl class): a group whose signed
    quantities cancel to zero — or that is all zero-quantity rows —
    has no defined weighted average; NULL in both engines, never an
    ANSI DIVIDE_BY_ZERO stage kill."""
    li = t(spark, d, "lineitem")
    wsum = F.sum(
        (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(25,6)")
    ).cast("double")
    qsum = F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double")
    # dround(6): above the dsum DECIMAL->DOUBLE exactness bound the two
    # engines' sum conversions can differ by 1 ulp; the ratio is a
    # value-scale number, so 6-dp rounding absorbs it (round-4)
    return li.groupBy("l_returnflag").agg(
        dround(wsum / F.nullif(qsum, F.lit(0.0)), 6).alias("wavg_price"),
        qsum.alias("total_qty"),
    )


@op(
    "agg_pivot_dynamic",
    """SELECT o_orderstatus,
              CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS "1-URGENT",
              CAST(COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS "2-HIGH",
              CAST(COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS "3-MEDIUM",
              CAST(COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS "4-NOT SPECIFIED",
              CAST(COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS "5-LOW"
       FROM orders GROUP BY o_orderstatus""",
)
def agg_pivot_dynamic(spark: SparkSession, d: str) -> DataFrame:
    """Dynamic pivot: the value list is DISCOVERED with a bounded
    distinct (capped — an unbounded implicit pivot is a driver-side
    collect of unknown size, the classic 100 TB foot-gun; the cap turns
    a runaway cardinality into an explicit error)."""
    o = t(spark, d, "orders")
    cap = 100
    vals = [
        r[0]
        for r in o.select("o_orderpriority").distinct().limit(cap + 1).collect()
    ]
    if len(vals) > cap:
        raise ValueError(f"pivot cardinality exceeds cap={cap}")
    return o.groupBy("o_orderstatus").pivot("o_orderpriority", sorted(vals)).count()


@op(
    "agg_median_mode",
    """WITH m AS (
         SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY COUNT(*) DESC, o_orderpriority) AS rk
         FROM orders GROUP BY o_orderstatus, o_orderpriority)
       SELECT s.o_orderstatus,
              quantile_cont(s.o_totalprice, 0.5) + 0.0 AS median_price,
              MIN(m.o_orderpriority) AS mode_priority
       FROM orders s
       JOIN m ON m.o_orderstatus = s.o_orderstatus AND m.rk = 1
       GROUP BY s.o_orderstatus""",
)
def agg_median_mode(spark: SparkSession, d: str) -> DataFrame:
    """Median + mode per group [SPEC: Prospect demographic aggregates].

    ``mode`` is deliberately NOT the engine builtin: both Spark and
    DuckDB return an arbitrary value among tied modes, which is never
    hash-comparable. Instead the mode is derived deterministically —
    value counts, ranked (count DESC, value ASC), rank 1 — the same
    total-order rewrite both engines agree on. Median reuses the
    interpolated-percentile path verified bit-identical in
    ``agg_percentile``. Two shuffles on the same group key; the count
    aggregation is map-side combinable."""
    from pyspark.sql import Window

    o = t(spark, d, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    mode = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    med = o.groupBy("o_orderstatus").agg(
        # pz: engine-internal interpolation can emit −0.0 on ±pairs
        # (r11; see agg_percentile)
        pz(F.expr("percentile(o_totalprice, 0.5)")).alias("median_price")
    )
    return med.join(mode, "o_orderstatus").select(
        "o_orderstatus", "median_price", "mode_priority"
    )


@op(
    "agg_regression_exact",
    f"""WITH s AS (
         SELECT l_returnflag,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(l_quantity AS {SQL_DEC})) AS DOUBLE) AS sx,
                CAST(SUM(CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) AS sy,
                CAST(SUM(CAST(l_quantity * l_extendedprice AS {SQL_DEC})) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(l_quantity * l_quantity AS {SQL_DEC})) AS DOUBLE) AS sxx
         FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag,
              CAST(ROUND(CAST(
                (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0)
                AS DECIMAL(25,6)), 6) AS DOUBLE) AS slope,
              CAST(ROUND(CAST(
                (sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) * sx)
                  / n
                AS DECIMAL(25,6)), 6) AS DOUBLE) AS intercept
       FROM s""",
)
def agg_regression_exact(spark: SparkSession, d: str) -> DataFrame:
    """Linear-regression aggregate (slope/intercept of price ~ qty)
    [EXT: drift monitors over training-data stats].

    Built from exact decimal moment sums rather than ``regr_slope``:
    the builtin accumulates doubles in shuffle order, which is not
    reproducible across engines or even runs. Here each moment
    (Sx, Sy, Sxy, Sxx) is an order-independent DECIMAL(25,6) sum cast
    to double, and the closed-form slope/intercept is the identical
    IEEE expression on both engines — bit-exact, no rounding mask.
    One shuffle; all five moments come from a single map-side-combined
    aggregation. At 100 TB this is the same cost as a SUM.

    NULLIF on the variance-shaped denominator (r11 sweep): a group
    whose quantities are all equal makes n*Sxx - Sx² exactly zero —
    ANSI DIVIDE_BY_ZERO in Spark, silent NULL in DuckDB. Guarded in
    both engines: slope/intercept are NULL for zero-x-variance groups
    (same class as agg_moments_exact's skewness and agg_stats' corr,
    all found by the same degenerate-group probe)."""
    li = t(spark, d, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_extendedprice")).cast(DEC))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast(DEC))
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    # dround(6): above the dsum DECIMAL->DOUBLE exactness bound the
    # engines' sum conversions can differ by 1 ulp; slope/intercept
    # are value-scale, so 6-dp rounding absorbs it (round-4)
    return s.select(
        "l_returnflag",
        dround(slope, 6).alias("slope"),
        dround((sy - slope * sx) / n, 6).alias("intercept"),
    )


@op(
    "sketch_hll_partition_merge",
    """SELECT event_type,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
              TRUE AS merged_within_10pct
       FROM events GROUP BY event_type""",
)
def sketch_hll_partition_merge(spark: SparkSession, d: str) -> DataFrame:
    """Mergeable HLL sketches: per-week partial sketches unioned to a
    total [EXT: incremental distinct-user rollups].

    The 100-TB point is MERGEABILITY — per-partition/per-day sketches
    are built once (map-side combinable binary state), persisted, and
    unioned later without touching raw data; a re-aggregation over a
    year of dailies reads KB, not TB. Self-verifying: the merged
    estimate is compared against the exact distinct count and the
    driver hashes the exact value plus the tolerance flag."""
    e = t(spark, d, "events")
    weekly = e.groupBy(
        "event_type", F.weekofyear("ts").alias("wk")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = weekly.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("merged_within_10pct"),
    )


@op(
    "sketch_approx_topk",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
       FROM events GROUP BY event_type""",
)
def sketch_approx_topk(spark: SparkSession, d: str) -> DataFrame:
    """Frequent-items sketch: ``approx_top_k`` heavy hitters
    [EXT: vocabulary / hot-key discovery at 100 TB].

    The sketch tracks up to maxItemsTracked items per partition and
    merges map-side; when the true cardinality is below that bound
    (event types here) the counts are EXACT, which is what makes this
    certifiable against a plain GROUP BY oracle — the explode turns
    the single sketch row back into (item, count) rows. At web scale
    the same plan gives approximate heavy hitters over 10^9 keys with
    bounded memory, no full shuffle of the key space."""
    e = t(spark, d, "events")
    sk = e.agg(F.expr("approx_top_k(event_type, 100)").alias("tk"))
    return sk.select(F.explode("tk").alias("x")).select(
        F.col("x.item").alias("event_type"),
        F.col("x.count").cast("bigint").alias("n"),
    )


@op(
    "agg_histogram_fixed",
    """WITH b AS (
         SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin_id,
                COUNT(*) AS n
         FROM orders GROUP BY 1),
       tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM b)
       SELECT bin_id,
              CAST(bin_id * 50000 AS DOUBLE) AS bin_lo,
              CAST(n AS BIGINT) AS n_orders,
              CAST(n AS DOUBLE) / total AS share
       FROM b, tot""",
)
def agg_histogram_fixed(spark: SparkSession, d: str) -> DataFrame:
    """Fixed-width histogram of order values with density shares
    [EXT: distribution profiling — the first look at any new column].

    Binning is a map-side expression (floor of an IEEE divide —
    identical in both engines), so the whole histogram is ONE
    map-combined aggregation shuffle on ~#bins keys; the grand total
    for the share column joins back as a broadcast 1-row relation
    (never a window over an empty partition, which would collapse to
    a single task at scale)."""
    o = t(spark, d, "orders")
    b = (
        o.select(
            F.floor(F.col("o_totalprice") / F.lit(50000.0))
            .cast("bigint")
            .alias("bin_id")
        )
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = b.agg(F.sum("n").cast("double").alias("total"))
    return b.join(F.broadcast(tot)).select(
        "bin_id",
        (F.col("bin_id") * 50000).cast("double").alias("bin_lo"),
        F.col("n").cast("bigint").alias("n_orders"),
        (F.col("n").cast("double") / F.col("total")).alias("share"),
    )


@op(
    "win_zscore_anomaly",
    f"""WITH s AS (
         SELECT user_id,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(value AS {SQL_DEC})) AS DOUBLE) AS sx,
                CAST(SUM(CAST(value * value AS {SQL_DEC})) AS DOUBLE) AS sxx
         FROM events GROUP BY user_id),
       m AS (
         SELECT user_id, n,
                sx / n AS mean_v,
                CAST(ROUND(CAST(
                  SQRT(GREATEST((n * sxx - sx * sx) / (n * n), 0.0))
                  AS DECIMAL(25,6)), 6) AS DOUBLE) AS std_v
         FROM s)
       SELECT m.user_id,
              CAST(m.n AS BIGINT) AS n_events,
              m.mean_v, m.std_v,
              CAST(COUNT(*) FILTER (
                WHERE ABS(e.value - m.mean_v) > 2.0 * m.std_v
              ) AS BIGINT) AS n_anomalies
       FROM m JOIN events e ON e.user_id = m.user_id
       GROUP BY m.user_id, m.n, m.mean_v, m.std_v""",
)
def win_zscore_anomaly(spark: SparkSession, d: str) -> DataFrame:
    """Per-user z-score anomaly counting [EXT: outlier gating on
    training-signal columns; data-drift monitors].

    Mean and population std come from exact DECIMAL moment sums (the
    agg_regression_exact pattern), so both are bit-identical doubles
    in both engines; sqrt and the closed-form variance are correctly
    rounded IEEE ops. The per-row z-test then runs inside the SAME
    user_id window partitioning — one shuffle feeds the moment
    window, the anomaly re-aggregation reuses that partitioning, so
    the whole op is a single exchange (asserted in test_plans)."""
    from pyspark.sql import Window

    e = t(spark, d, "events").select("user_id", "value")
    w = Window.partitionBy("user_id")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(F.col("value").cast(DEC)).over(w).cast("double")
    sxx = F.sum((F.col("value") * F.col("value")).cast(DEC)).over(w).cast("double")
    mean_v = sx / n
    # dround(6) on std: above the dsum conversion bound the engines'
    # sxx doubles can differ by 1 ulp; rounding the std (used in BOTH
    # the output and the z-test threshold) keeps the count and the
    # emitted value deterministic (round-4)
    std_v = dround(
        F.sqrt(F.greatest((n * sxx - sx * sx) / (n * n), F.lit(0.0))), 6
    )
    scored = e.select(
        "user_id",
        "value",
        n.alias("n"),
        mean_v.alias("mean_v"),
        std_v.alias("std_v"),
    )
    return scored.groupBy("user_id", "n", "mean_v", "std_v").agg(
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("mean_v")) > 2.0 * F.col("std_v"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_anomalies")
    ).select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        "mean_v",
        "std_v",
        "n_anomalies",
    )


@op(
    "agg_transpose_matrix",
    """SELECT 'n_orders' AS key,
              CAST(count_if(o_orderstatus = 'F') AS DOUBLE) AS F,
              CAST(count_if(o_orderstatus = 'O') AS DOUBLE) AS O,
              CAST(count_if(o_orderstatus = 'P') AS DOUBLE) AS P
       FROM orders
       UNION ALL
       SELECT 'revenue',
              CAST(SUM(CASE WHEN o_orderstatus = 'F'
                            THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE),
              CAST(SUM(CASE WHEN o_orderstatus = 'O'
                            THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE),
              CAST(SUM(CASE WHEN o_orderstatus = 'P'
                            THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE)
       FROM orders""",
)
def agg_transpose_matrix(spark: SparkSession, d: str) -> DataFrame:
    """DataFrame transpose (Spark 4, SPARK-47081): rows become columns
    with the index column's values as the new column names — the
    report-shaping complement to pivot. Here a 3-row per-status
    aggregate flips to metrics-as-rows × statuses-as-columns. Only ever
    applied to already-aggregated (dimension-sized) relations: the
    column set must be driver-known, exactly like agg_pivot's explicit
    value list. The oracle is the manual conditional-aggregation
    transpose."""
    o = t(spark, d, "orders")
    src = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )
    return src.transpose()


@op(
    "sql_groupby_all",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
              COUNT(*) AS n
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def sql_groupby_all(spark: SparkSession, d: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+, SQL:2023-adjacent sugar): every
    non-aggregate select item becomes a grouping key — eliminates the
    classic silently-wrong-rollup bug when a dimension is added to the
    select list but not the GROUP BY. Resolves at analysis time to the
    identical aggregation plan; oracle is the explicit form."""
    t(spark, d, "lineitem").createOrReplaceTempView("gba_lineitem")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
                  COUNT(*) AS n
           FROM gba_lineitem GROUP BY ALL"""
    )


@op(
    "agg_moments_exact",
    """WITH s AS (
         SELECT o_orderstatus,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s1,
                CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                     AS DOUBLE) AS s2,
                CAST(SUM(CAST(o_totalprice * o_totalprice * o_totalprice
                              AS DECIMAL(38,6))) AS DOUBLE) AS s3
         FROM orders GROUP BY o_orderstatus)
       SELECT o_orderstatus,
              s1 / n AS mean,
              CASE WHEN s2 IS NULL THEN NULL
                   ELSE CAST(ROUND(CAST(
                     sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))
                     AS DECIMAL(25,6)), 6) AS DOUBLE) END AS stddev_pop,
              CAST(ROUND(CAST(
                (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                / NULLIF(pow(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0), 1.5), 0.0)
                AS DECIMAL(25,6)), 6) AS DOUBLE) AS skewness_pop
       FROM s""",
)
def agg_moments_exact(spark: SparkSession, d: str) -> DataFrame:
    """Population stddev + skewness from exact DECIMAL raw-moment sums
    [EXT: distribution-shape monitors over training-data stats]. The
    builtin skewness() accumulates doubles in shuffle order (not
    reproducible across engines); here m1..m3 are order-independent
    decimal sums and the closed-form moments are identical IEEE
    expressions, rounded at 1e-6 only where pow/sqrt ulp could differ.
    One map-side-combined aggregation — same cost as a SUM at any
    scale.

    Degenerate-group guards (r11 probe, the tpcdi_holdings_pnl class):
    a zero-variance group made skewness divide by pow(0, 1.5) — ANSI
    DIVIDE_BY_ZERO in Spark, silent NULL in DuckDB — and a
    near-constant group can push the double var to -ulp, where
    DuckDB's sqrt THROWS (Spark yields NaN, whose DECIMAL cast then
    throws under ANSI). greatest(var, 0) + NULLIF(denominator, 0) in
    BOTH engines: stddev 0, skewness NULL for such groups — one
    constant-valued key must never kill a 100 TB job. An ALL-NULL
    group (var itself NULL) keeps stddev NULL rather than letting
    greatest(NULL, 0) → 0 misreport it as constant (both engines'
    greatest SKIP NULLs — probe-verified identical — so the CASE
    guard is about semantics, not parity)."""
    o = t(spark, d, "orders")
    tp = F.col("o_totalprice")
    s = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        # DECIMAL(38,6): the cube term overflows DECIMAL(25,6) above
        # |x| ~ 1e6 (round-4 adversarial probe) — 38 digits carry cubes
        # of any realistic money magnitude
        F.sum(tp.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((tp * tp).cast("decimal(38,6)")).cast("double").alias("s2"),
        F.sum((tp * tp * tp).cast("decimal(38,6)")).cast("double").alias("s3"),
    )
    n, s1, s2, s3 = (F.col(c) for c in ("n", "s1", "s2", "s3"))
    mean = s1 / n
    var = F.greatest(s2 / n - mean * mean, F.lit(0.0))
    skew = (s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean) / F.nullif(
        F.pow(var, 1.5), F.lit(0.0)
    )
    return s.select(
        "o_orderstatus",
        mean.alias("mean"),
        F.when(s2.isNotNull(), dround(F.sqrt(var), 6)).alias("stddev_pop"),
        dround(skew, 6).alias("skewness_pop"),
    )


@op(
    "agg_filter_clause",
    """SELECT o_orderstatus,
              COUNT(*) AS n_all,
              COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                   FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
                AS urgent_total
       FROM orders GROUP BY o_orderstatus""",
)
def agg_filter_clause(spark: SparkSession, d: str) -> DataFrame:
    """SQL:2003 FILTER clause on aggregates — the standard form of the
    SUM(CASE WHEN...) conditional-aggregation idiom (agg_conditional):
    each aggregate sees only its predicate's rows, all still computed
    in ONE grouped pass. Catalyst lowers FILTER to the same
    conditional-input aggregation, so the cost is identical; decimal
    routing keeps the filtered sum exact."""
    t(spark, d, "orders").createOrReplaceTempView("fltr_orders")
    return spark.sql(
        """SELECT o_orderstatus,
                  COUNT(*) AS n_all,
                  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                       FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
                    AS urgent_total
           FROM fltr_orders GROUP BY o_orderstatus"""
    )


@op(
    "agg_bitmap_distinct",
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
       FROM orders GROUP BY o_orderstatus""",
)
def agg_bitmap_distinct(spark: SparkSession, d: str) -> DataFrame:
    """Exact distinct counting via roaring-style bitmaps (Spark 3.5+
    bitmap_construct_agg / bitmap_count) [EXT: the exact, mergeable
    alternative to HLL]: keys bucket by bitmap_bucket_number, each
    bucket aggregates to a fixed-size bitmap, and the distinct count
    is the SUM of per-bucket bit counts. Like sketch_hll_partition
    _merge the partials are small and unionable — incremental rollups
    reuse stored bitmaps — but the answer is exact. The oracle is the
    plain COUNT(DISTINCT)."""
    t(spark, d, "orders").createOrReplaceTempView("bmp_orders")
    return spark.sql(
        """WITH per AS (
             SELECT o_orderstatus, bitmap_bucket_number(o_custkey) AS b,
                    bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
             FROM bmp_orders GROUP BY 1, 2)
           SELECT o_orderstatus, CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_customers
           FROM per GROUP BY o_orderstatus"""
    )


@op(
    "agg_count_distinct_multi",
    """SELECT l_returnflag,
              COUNT(DISTINCT CASE WHEN l_linestatus IS NOT NULL
                                   AND l_partkey IS NOT NULL
                                  THEN (l_linestatus, l_partkey % 100) END)
                AS n_combos,
              COUNT(DISTINCT l_suppkey) AS n_supps
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_count_distinct_multi(spark: SparkSession, d: str) -> DataFrame:
    """Multi-column COUNT(DISTINCT a, b) alongside a single-column
    distinct in the same grouped pass — Spark expands multiple
    distinct aggregates with one grouping-sets style rewrite rather
    than two scans.

    NULL semantics (r11 probe): SQL-standard COUNT(DISTINCT a, b) —
    and Spark's count_distinct — skip a tuple when ANY argument is
    NULL; DuckDB's row-value COUNT(DISTINCT (a, b)) counts a struct
    with a NULL field as a present value. The oracle CASE-guards the
    row value so both engines count the standard semantics."""
    li = t(spark, d, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct(F.col("l_linestatus"), F.col("l_partkey") % 100).alias(
            "n_combos"
        ),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )


# --------------------------------------------------------------------------
# Count-Min sketch, explicit and fully mirrorable (round-3 continuation)
# --------------------------------------------------------------------------

_CMS_DEPTH, _CMS_WIDTH = 4, 64

_CMS_SQL = f"""
WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
           FROM documents),
wc AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
rows_ AS (SELECT unnest(range({_CMS_DEPTH})) AS j),
hb AS (SELECT word, n, j,
              CAST(concat('0x', substr(md5(word || ':' || CAST(j AS VARCHAR)), 1, 15))
                   AS BIGINT) % {_CMS_WIDTH} AS bucket
       FROM wc CROSS JOIN rows_),
sketch AS (SELECT j, bucket, SUM(n) AS counter
           FROM hb GROUP BY j, bucket),
est AS (SELECT hb.word, hb.n AS exact_n, MIN(s.counter) AS cms_n
        FROM hb JOIN sketch s ON s.j = hb.j AND s.bucket = hb.bucket
        GROUP BY hb.word, hb.n)
SELECT word, CAST(exact_n AS BIGINT) AS exact_n,
       CAST(cms_n AS BIGINT) AS cms_n,
       cms_n >= exact_n AS never_underestimates
FROM est
"""


@op("sketch_count_min", _CMS_SQL)
def sketch_count_min(spark: SparkSession, d: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan) built from
    expressions — depth 4 x width 64 integer counters, md5-derived
    row hashes — and queried back for every vocabulary word
    [EXT: bounded-memory frequency estimation].

    The 100 TB point: the sketch relation is EXACTLY depth x width =
    4x64 rows regardless of corpus size (counters are plain SUMs, so
    partial aggregation combines map-side and the shuffle payload is
    constant), and it is mergeable across partitions/days by adding
    counters. Per-occurrence hashing is avoided by pre-aggregating
    exact (word, n) first — the 4-row hash expansion runs over the
    vocabulary-sized relation, not the corpus. Unlike the opaque
    binary `count_min_sketch` builtin, every counter here is visible
    to SQL, so the DuckDB oracle replays the ENTIRE sketch — hashes,
    counters, min-over-rows estimates — and certifies both estimates
    and the never-underestimates guarantee exactly."""
    doc = t(spark, d, "documents")
    w = doc.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
    wc = w.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    rows_ = spark.range(_CMS_DEPTH).select(F.col("id").cast("int").alias("j"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat("word", F.lit(":"), F.col("j").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % _CMS_WIDTH
    )
    hb = wc.crossJoin(F.broadcast(rows_)).select(
        "word", "n", "j", bucket.alias("bucket")
    )
    sketch = hb.groupBy("j", "bucket").agg(F.sum("n").alias("counter"))
    return (
        hb.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("word", F.col("n").alias("exact_n"))
        .agg(F.min("counter").alias("cms_n"))
        .select(
            "word",
            "exact_n",
            "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("never_underestimates"),
        )
    )


_BLOOM_M, _BLOOM_K = 1024, 4

_BLOOM_SQL = f"""
WITH w AS (SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS word
           FROM documents),
probes AS (SELECT word, TRUE AS is_member FROM w
           UNION ALL
           SELECT word || '#nm', FALSE FROM w),
ks AS (SELECT unnest(range({_BLOOM_K})) AS j),
bits AS (SELECT DISTINCT
                CAST(concat('0x', substr(md5(word || '@' || CAST(j AS VARCHAR)), 1, 15))
                     AS BIGINT) % {_BLOOM_M} AS pos
         FROM w CROSS JOIN ks),
ph AS (SELECT p.word, p.is_member, k.j,
              CAST(concat('0x', substr(md5(p.word || '@' || CAST(k.j AS VARCHAR)), 1, 15))
                   AS BIGINT) % {_BLOOM_M} AS pos
       FROM probes p CROSS JOIN ks k),
hit AS (SELECT word, is_member,
               COUNT(*) FILTER (WHERE bits.pos IS NOT NULL) AS n_hit
        FROM ph LEFT JOIN bits ON bits.pos = ph.pos
        GROUP BY word, is_member)
SELECT word, is_member, n_hit = {_BLOOM_K} AS bloom_positive,
       (NOT is_member) OR n_hit = {_BLOOM_K} AS no_false_negative
FROM hit
"""


@op("sketch_bloom_filter", _BLOOM_SQL)
def sketch_bloom_filter(spark: SparkSession, d: str) -> DataFrame:
    """Bloom filter (1024 bits, 4 md5-derived hashes) over the corpus
    vocabulary, built from expressions and probed with every member
    plus a guaranteed non-member variant of each ('word#nm' — corpus
    tokens contain no '#') [EXT: bounded-memory membership — the
    pre-filter in front of expensive dedup/decontamination joins].

    The 100 TB posture mirrors sketch_count_min: the filter relation is
    at most 1024 rows regardless of corpus size (DISTINCT bit
    positions — map-side combinable, mergeable across partitions by
    union), and probing is a broadcast join against it. The DuckDB
    oracle replays hashes, bit set, and probe outcomes EXACTLY, so the
    structural zero-false-negative guarantee is certified as a column
    (`no_false_negative` must be TRUE on every row at any scale);
    false positives among the non-member probes are allowed and
    visible in `bloom_positive`."""
    doc = t(spark, d, "documents")
    w = doc.select(
        F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).distinct()
    probes = w.select("word", F.lit(True).alias("is_member")).unionByName(
        w.select(
            F.concat("word", F.lit("#nm")).alias("word"),
            F.lit(False).alias("is_member"),
        )
    )
    ks = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("j"))

    def pos(word_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(word_col, F.lit("@"), F.col("j").cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    bits = (
        w.crossJoin(F.broadcast(ks))
        .select(pos(F.col("word")).alias("pos"))
        .distinct()
        .withColumnRenamed("pos", "bpos")
    )
    ph = probes.crossJoin(F.broadcast(ks)).select(
        "word", "is_member", pos(F.col("word")).alias("pos")
    )
    hit = (
        ph.join(F.broadcast(bits), ph["pos"] == bits["bpos"], "left")
        .groupBy("word", "is_member")
        .agg(F.count("bpos").alias("n_hit"))
    )
    return hit.select(
        "word",
        "is_member",
        (F.col("n_hit") == _BLOOM_K).alias("bloom_positive"),
        (~F.col("is_member") | (F.col("n_hit") == _BLOOM_K)).alias(
            "no_false_negative"
        ),
    )


@op(
    "agg_mad_anomaly",
    """WITH m AS (
         SELECT user_id, value,
                quantile_cont(value, 0.5) OVER (PARTITION BY user_id) + 0.0
                  AS med_v
         FROM events),
       d AS (
         SELECT user_id, value, med_v,
                quantile_cont(ABS(value - med_v), 0.5)
                  OVER (PARTITION BY user_id) AS mad_v
         FROM m)
       SELECT user_id,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              med_v, mad_v,
              CAST(COUNT(*) FILTER (
                WHERE ABS(value - med_v) > 3.0 * mad_v
              ) AS BIGINT) AS n_anomalies
       FROM d GROUP BY user_id, med_v, mad_v""",
)
def agg_mad_anomaly(spark: SparkSession, d: str) -> DataFrame:
    """Median-absolute-deviation anomaly counting per user — the
    robust twin of win_zscore_anomaly [EXT: outlier gating where a few
    extreme values would poison mean/std; MAD's breakdown point is 50%
    vs 0% for the z-score].

    Both medians are exact interpolated percentiles (Spark
    `percentile` ≡ DuckDB `quantile_cont` bit-exact — the
    win_median_rolling precedent), computed over the SAME user_id
    window partitioning as the deviation pass and the final
    re-aggregation: one shuffle feeds all three, no extra exchange.
    A MAD of zero (over half the user's values identical) flags only
    rows strictly off the median — the standard robust-scale edge
    case, identical in both engines."""
    from pyspark.sql import Window

    e = t(spark, d, "events").select("user_id", "value")
    w = Window.partitionBy("user_id")
    # pz at the DEFINITION: med_v is both an output/grouping column
    # (where −0.0 vs +0.0 hash-diverges) and a deviation anchor
    # (where |value − med_v| is unaffected by the sign of zero) —
    # canonicalizing once keeps both uses consistent. mad_v needs no
    # pz: it interpolates ABS deviations, which are never −0.0.
    med = pz(F.percentile("value", 0.5).over(w))
    m = e.select("user_id", "value", med.alias("med_v"))
    mad = F.percentile(F.abs(F.col("value") - F.col("med_v")), 0.5).over(w)
    dd = m.select("user_id", "value", "med_v", mad.alias("mad_v"))
    return dd.groupBy("user_id", "med_v", "mad_v").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("med_v")) > 3.0 * F.col("mad_v"), 1
            ).otherwise(0)
        ).alias("n_anomalies"),
    ).select("user_id", "n_events", "med_v", "mad_v", "n_anomalies")
