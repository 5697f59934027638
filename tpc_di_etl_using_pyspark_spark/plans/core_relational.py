"""SURVEY §2.B projections/filters, §2.C joins, §2.F sort/limit, §2.G set ops.

Every op returns a DataFrame whose column names + values exactly match
the DuckDB oracle (driver hash-compare). Determinism notes inline.
Reference semantics: TPC-DI fact/dimension load shapes [SPEC] — no
file:line possible, /root/reference is empty (SURVEY §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import epoch_s, spread_scan, sql_epoch_floor_s, t
from .registry import op


# --------------------------------------------------------------------------
# §2.B projections / filters
# --------------------------------------------------------------------------


@op(
    "project_select",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem",
)
def project_select(spark: SparkSession, d: str) -> DataFrame:
    """Column subset + reorder [SPEC: per-table column mappings]."""
    return t(spark, d, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@op(
    "project_derive",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net_price,
              l_extendedprice * (1 - l_discount) AS disc_price
       FROM lineitem""",
)
def project_derive(spark: SparkSession, d: str) -> DataFrame:
    """Computed measures (net price = extprice*(1-disc)*(1+tax)) [SPEC: fact measures]."""
    # Same expression tree both engines → identical IEEE doubles.
    li = t(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "net_price"
        ),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
    )


@op(
    "project_rename_drop",
    """SELECT c_custkey AS customer_id, c_name AS customer_name,
              c_mktsegment AS segment
       FROM customer""",
)
def project_rename_drop(spark: SparkSession, d: str) -> DataFrame:
    """Conform source -> DW column names [SPEC: column mappings]."""
    return (
        t(spark, d, "customer")
        .withColumnRenamed("c_custkey", "customer_id")
        .withColumnRenamed("c_name", "customer_name")
        .withColumnRenamed("c_mktsegment", "segment")
        .drop("c_nationkey", "c_acctbal")
    )


@op(
    "filter_simple",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       WHERE o_orderstatus = 'F'""",
)
def filter_simple(spark: SparkSession, d: str) -> DataFrame:
    """Single-predicate row filter [SPEC: active-record filters]."""
    return (
        t(spark, d, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@op(
    "filter_compound",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
       WHERE l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
         AND l_returnflag IN ('A', 'R') AND NOT l_linestatus = 'O'""",
)
def filter_compound(spark: SparkSession, d: str) -> DataFrame:
    """AND/OR/NOT + IN-list + BETWEEN date windows [SPEC: batch date windows]."""
    li = t(spark, d, "lineitem")
    return li.filter(
        F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
        & F.col("l_returnflag").isin("A", "R")
        & ~(F.col("l_linestatus") == "O")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@op(
    "filter_null",
    """SELECT c_custkey,
              CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
              (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END
               IS NOT DISTINCT FROM NULL) AS bal_is_null_safe
       FROM customer
       WHERE CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END IS NOT NULL
          OR c_custkey % 2 = 0""",
)
def filter_null(spark: SparkSession, d: str) -> DataFrame:
    """Null semantics: isNull / isNotNull / null-safe equality [SPEC: DQ checks -> DImessages]."""
    c = t(spark, d, "customer")
    bal = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return (
        c.withColumn("bal", bal)
        .withColumn("bal_is_null_safe", F.col("bal").eqNullSafe(F.lit(None)))
        .filter(F.col("bal").isNotNull() | (F.col("c_custkey") % 2 == 0))
        .select("c_custkey", "bal", "bal_is_null_safe")
    )


@op(
    "filter_like_regexp",
    """SELECT p_partkey, p_name, p_type FROM part
       WHERE p_type LIKE '%BRASS%' OR regexp_matches(p_name, '^[a-g]')""",
)
def filter_like_regexp(spark: SparkSession, d: str) -> DataFrame:
    """LIKE / RLIKE pattern predicates [SPEC: Prospect-Customer matching]."""
    p = t(spark, d, "part")
    return p.filter(F.col("p_type").like("%BRASS%") | F.col("p_name").rlike("^[a-g]")).select(
        "p_partkey", "p_name", "p_type"
    )


# --------------------------------------------------------------------------
# §2.C joins
# --------------------------------------------------------------------------


@op(
    "join_inner_equi",
    """SELECT o.o_orderkey, c.c_name, o.o_totalprice
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def join_inner_equi(spark: SparkSession, d: str) -> DataFrame:
    """Fact -> dimension equi join [SPEC: every fact load]."""
    o, c = t(spark, d, "orders"), t(spark, d, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@op(
    "join_multi_key",
    """WITH g AS (
         SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS grp_qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus)
       SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_linestatus, g.grp_qty
       FROM lineitem l
       JOIN g ON l.l_returnflag = g.l_returnflag AND l.l_linestatus = g.l_linestatus""",
)
def join_multi_key(spark: SparkSession, d: str) -> DataFrame:
    """Composite-key join [SPEC: DailyMarket -> DimSecurity symbol+date]."""
    li = t(spark, d, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double").alias("grp_qty")
    )
    return li.join(g, ["l_returnflag", "l_linestatus"]).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "grp_qty"
    )


@op(
    "join_left_outer",
    """SELECT c.c_custkey, c.c_name, o.n_orders
       FROM customer c LEFT JOIN (
         SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
       ) o ON c.c_custkey = o.o_custkey""",
)
def join_left_outer(spark: SparkSession, d: str) -> DataFrame:
    """Optional-match enrichment [SPEC: Prospect matching is optional]."""
    c, o = t(spark, d, "customer"), t(spark, d, "orders")
    per = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return c.join(per, c.c_custkey == per.o_custkey, "left").select(
        "c_custkey", "c_name", "n_orders"
    )


@op(
    "join_right_full",
    """SELECT n.n_name, s.s_name, s.s_acctbal
       FROM nation n FULL JOIN supplier s ON n.n_nationkey = s.s_nationkey""",
)
def join_right_full(spark: SparkSession, d: str) -> DataFrame:
    """Right/full outer completeness joins [SPEC: audit reconciliation]."""
    n, s = t(spark, d, "nation"), t(spark, d, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full").select(
        "n_name", "s_name", "s_acctbal"
    )


@op(
    "join_broadcast",
    """SELECT r.r_name,
              CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6)))
                   AS DOUBLE) AS revenue
       FROM lineitem l
       JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name""",
)
def join_broadcast(spark: SparkSession, d: str) -> DataFrame:
    """Star join through broadcast reference dims [SPEC: code lookups].

    Hint policy = scale posture: explicit F.broadcast only on the
    bounded reference domains (nation/region — always tiny), while the
    orders/customer sides are left to the planner — at this scale the
    static threshold/AQE broadcasts them too (plan asserted in
    tests/test_plans.py), but at 100 TB they are fact-sized and must
    be free to shuffle; a hard hint would OOM the driver.

    spread_scan: the whole broadcast-join chain +
    partial aggregate is map-side work over a one-task fixture scan;
    re-spreading on the join key halved the op at sf0.1 (1.21 →
    0.66 s) and is a no-op on any well-split input."""
    li = spread_scan(t(spark, d, "lineitem"), "l_orderkey")
    o = t(spark, d, "orders")
    c, n, r = t(spark, d, "customer"), t(spark, d, "nation"), t(spark, d, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@op(
    "join_semi",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_semi(spark: SparkSession, d: str) -> DataFrame:
    """EXISTS via left_semi [SPEC: audit existence checks]."""
    c, o = t(spark, d, "customer"), t(spark, d, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@op(
    "join_anti",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')""",
)
def join_anti(spark: SparkSession, d: str) -> DataFrame:
    """NOT EXISTS via left_anti [SPEC: invalid-reference DQ rule]."""
    # Anti-join vs a subset so the result is non-empty at every sf
    # (every customer has *some* order in the fixtures).
    c, o = t(spark, d, "customer"), t(spark, d, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_RANGE_SQL = """
WITH ver AS (
  SELECT o_custkey AS v_custkey,
         CAST(o_orderdate AS DATE) AS eff,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS ver,
         LEAD(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS end_d
  FROM orders),
fact AS (
  SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
         CAST(l.l_shipdate AS DATE) AS ship_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, v.ver
FROM fact f
JOIN ver v ON f.o_custkey = v.v_custkey
          AND f.ship_d >= v.eff
          AND (v.end_d IS NULL OR f.ship_d < v.end_d)
"""


@op("join_range_between", _RANGE_SQL)
def join_range_between(spark: SparkSession, d: str) -> DataFrame:
    """SCD2-style temporal join: fact date in [eff, next-eff) per key.

    [SPEC: historical surrogate-key resolution]. Scale note (SURVEY
    §4.3): the equi conjunct on the natural key keeps this a
    sort-merge/broadcast join with the range as a residual filter —
    never a nested-loop over the fact table.

    spread_scan: the fact side's broadcast-join +
    projection chain is map-side work over a one-task fixture scan;
    re-spreading on the order key measured 1.50 → 0.86 s at sf0.1,
    no-op on any well-split input.
    """
    o = t(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ver = o.select(
        F.col("o_custkey").alias("v_custkey"),
        F.col("o_orderdate").cast("date").alias("eff"),
        F.row_number().over(w).alias("ver"),
        F.lead(F.col("o_orderdate").cast("date")).over(w).alias("end_d"),
    )
    li = spread_scan(t(spark, d, "lineitem"), "l_orderkey")
    fact = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_custkey", F.col("l_shipdate").cast("date").alias("ship_d")
    )
    return fact.join(
        ver,
        (fact.o_custkey == ver.v_custkey)
        & (fact.ship_d >= ver.eff)
        & (ver.end_d.isNull() | (fact.ship_d < ver.end_d)),
    ).select("l_orderkey", "l_linenumber", "o_custkey", "ver")


_ASOF_SQL = f"""
WITH p AS (
  SELECT event_id, user_id, {sql_epoch_floor_s('ts')} AS sec
  FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, v.view_id AS asof_view_id
FROM p LEFT JOIN LATERAL (
  SELECT e.event_id AS view_id
  FROM events e
  WHERE e.event_type = 'view' AND e.user_id = p.user_id
    AND ({sql_epoch_floor_s('e.ts')} < p.sec
         OR ({sql_epoch_floor_s('e.ts')} = p.sec AND e.event_id <= p.event_id))
  ORDER BY {sql_epoch_floor_s('e.ts')} DESC, e.event_id DESC
  LIMIT 1) v ON TRUE
"""


@op("join_asof_latest", _ASOF_SQL)
def join_asof_latest(spark: SparkSession, d: str) -> DataFrame:
    """As-of join: for each purchase, the latest view at-or-before it.

    [SPEC: FactMarketHistory PE calc — latest quarterly EPS ≤ trade
    date]. Spark has no native as-of join; the scalable shape is the
    union+window merge (single shuffle on the key, no theta join):
    tag both sides, sort by (key, time), carry the last view id
    forward with last_value(ignorenulls).
    """
    e = t(spark, d, "events")
    sec = epoch_s("ts").alias("sec")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", sec, "event_id", F.col("event_id").alias("view_id")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", sec, "event_id", F.lit(None).cast("long").alias("view_id")
    )
    unioned = views.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("asof_view_id", F.last("view_id", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("view_id").isNull())
        .select("event_id", "user_id", "asof_view_id")
    )


@op(
    "join_theta_inequality",
    """SELECT a.s_suppkey AS low_supp, b.s_suppkey AS high_supp,
              b.s_acctbal - a.s_acctbal AS bal_gap
       FROM supplier a JOIN supplier b
         ON a.s_nationkey = b.s_nationkey AND a.s_acctbal < b.s_acctbal""",
)
def join_theta_inequality(spark: SparkSession, d: str) -> DataFrame:
    """General inequality (theta) join [SPEC: SCD2 overlap audits]."""
    s = t(spark, d, "supplier")
    a = s.alias("a")
    b = s.alias("b")
    return a.join(
        b,
        (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
        & (F.col("a.s_acctbal") < F.col("b.s_acctbal")),
    ).select(
        F.col("a.s_suppkey").alias("low_supp"),
        F.col("b.s_suppkey").alias("high_supp"),
        (F.col("b.s_acctbal") - F.col("a.s_acctbal")).alias("bal_gap"),
    )


@op(
    "join_self_versioning",
    """WITH v AS (
         SELECT o_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders)
       SELECT cur.o_custkey, cur.o_orderkey,
              cur.o_totalprice - prv.o_totalprice AS price_delta
       FROM v cur JOIN v prv
         ON cur.o_custkey = prv.o_custkey AND cur.rn = prv.rn + 1""",
)
def join_self_versioning(spark: SparkSession, d: str) -> DataFrame:
    """Consecutive-version change detection [SPEC: incremental SCD2 update]."""
    o = t(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    v = o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
    cur, prv = v.alias("cur"), v.alias("prv")
    return cur.join(
        prv,
        (F.col("cur.o_custkey") == F.col("prv.o_custkey"))
        & (F.col("cur.rn") == F.col("prv.rn") + 1),
    ).select(
        F.col("cur.o_custkey").alias("o_custkey"),
        F.col("cur.o_orderkey").alias("o_orderkey"),
        (F.col("cur.o_totalprice") - F.col("prv.o_totalprice")).alias("price_delta"),
    )


@op(
    "join_cross",
    """SELECT r.r_name, n.n_name
       FROM region r CROSS JOIN (
         SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 5) n""",
)
def join_cross(spark: SparkSession, d: str) -> DataFrame:
    """Cartesian grid build [REF*: DimDate x DimTime calendar builds]."""
    r = t(spark, d, "region")
    n5 = t(spark, d, "nation").orderBy("n_nationkey").limit(5).select("n_name")
    return r.crossJoin(n5).select("r_name", "n_name")


# --------------------------------------------------------------------------
# §2.F sorts / limits / top-k
# --------------------------------------------------------------------------


@op(
    "sort_multi",
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       ORDER BY o_orderstatus ASC, o_totalprice DESC NULLS LAST, o_orderkey""",
)
def sort_multi(spark: SparkSession, d: str) -> DataFrame:
    """Multi-key asc/desc sort with null placement [REF*: ordered loads]."""
    return (
        t(spark, d, "orders")
        .orderBy(
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey"),
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@op(
    "limit_n",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def limit_n(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic LIMIT (ordered first) [REF*: sampling]."""
    return (
        t(spark, d, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@op(
    "topk_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders) WHERE rk <= 3""",
)
def topk_per_group(spark: SparkSession, d: str) -> DataFrame:
    """Top-k rows per group via ranked window [REF*: per-security top days]."""
    o = t(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# --------------------------------------------------------------------------
# §2.G set operations / dedup
# --------------------------------------------------------------------------


@op(
    "set_union_all",
    """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
       UNION ALL
       SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 100000""",
)
def set_union_all(spark: SparkSession, d: str) -> DataFrame:
    """Append incremental batch to historical via unionByName [SPEC: Batch2/3 loads]."""
    o = t(spark, d, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_totalprice") > 100000).select("o_orderkey", "o_orderstatus")
    return a.unionByName(b)


@op(
    "set_union_distinct",
    """SELECT n_regionkey AS key FROM nation
       UNION
       SELECT r_regionkey AS key FROM region""",
)
def set_union_distinct(spark: SparkSession, d: str) -> DataFrame:
    """Distinct union of code tables [REF*: code-table merges]."""
    n = t(spark, d, "nation").select(F.col("n_regionkey").alias("key"))
    r = t(spark, d, "region").select(F.col("r_regionkey").alias("key"))
    return n.unionByName(r).distinct()


@op(
    "set_intersect",
    """SELECT c_custkey AS key FROM customer
       INTERSECT
       SELECT o_custkey AS key FROM orders""",
)
def set_intersect(spark: SparkSession, d: str) -> DataFrame:
    """Audit reconciliation intersection [SPEC: audit cross-checks]."""
    c = t(spark, d, "customer").select(F.col("c_custkey").alias("key"))
    o = t(spark, d, "orders").select(F.col("o_custkey").alias("key"))
    return c.intersect(o)


@op(
    "set_except",
    """SELECT o_custkey AS key FROM orders
       EXCEPT ALL
       SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F'""",
)
def set_except(spark: SparkSession, d: str) -> DataFrame:
    """CDC-style diff via exceptAll [SPEC: CDC semantics]."""
    o = t(spark, d, "orders")
    allk = o.select(F.col("o_custkey").alias("key"))
    fk = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("key"))
    return allk.exceptAll(fk)


@op(
    "dedup_exact",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def dedup_exact(spark: SparkSession, d: str) -> DataFrame:
    """Exact duplicate drop by key subset [SPEC: source-file dedup rule]."""
    # Only key columns are returned → winner-row nondeterminism of
    # dropDuplicates cannot leak (SURVEY §7.4).
    return t(spark, d, "events").select("user_id", "event_type").dropDuplicates()


@op(
    "dedup_latest_by_key",
    f"""SELECT user_id, event_type, event_id, value FROM (
         SELECT user_id, event_type, event_id, value,
                ROW_NUMBER() OVER (
                  PARTITION BY user_id, event_type
                  ORDER BY {sql_epoch_floor_s('ts')} DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
)
def dedup_latest_by_key(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic latest-record-wins [SPEC: apply highest CDC_DSN]."""
    e = t(spark, d, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        epoch_s("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


@op(
    "join_skew_salted",
    """SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
              o.o_custkey, o.o_orderdate
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
)
def join_skew_salted(spark: SparkSession, d: str) -> DataFrame:
    """Skew-mitigated equi join: the probe side gets a deterministic
    salt in [0, N), the build side is replicated N times with every
    salt value, and the join key becomes (key, salt) — splitting any
    hot key's rows across N reducers [100 TB posture: hand-salting for
    skew beyond AQE's split threshold]. Result set is identical to the
    plain join (oracle states the unsalted join)."""
    n_salt = 8
    li = t(spark, d, "lineitem").withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt))
    )
    o = t(spark, d, "orders").withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li._salt == o._salt))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "o_custkey", "o_orderdate")
    )


@op(
    "sql_api_revenue_ranking",
    """WITH revenue AS (
         SELECT l.l_orderkey,
                CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(25,6))) AS DOUBLE) AS rev,
                o.o_orderdate, o.o_orderpriority
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
         GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority)
       SELECT l_orderkey, rev, CAST(o_orderdate AS DATE) AS order_date,
              o_orderpriority
       FROM revenue ORDER BY rev DESC, l_orderkey LIMIT 20""",
)
def sql_api_revenue_ranking(spark: SparkSession, d: str) -> DataFrame:
    """TPC-H-Q3-shaped revenue ranking through the spark.sql entry
    point (SURVEY §3.3): CTE + 3-way join + grouped decimal-exact
    revenue + deterministic LIMIT, all parsed from SQL text — the
    same ANSI surface the DataFrame ops compile to."""
    for name in ("lineitem", "orders", "customer"):
        t(spark, d, name).createOrReplaceTempView(f"sqlapi_{name}")
    return spark.sql(
        """WITH revenue AS (
             SELECT l.l_orderkey,
                    CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                  AS DECIMAL(25,6))) AS DOUBLE) AS rev,
                    o.o_orderdate, o.o_orderpriority
             FROM sqlapi_lineitem l
             JOIN sqlapi_orders o ON l.l_orderkey = o.o_orderkey
             JOIN sqlapi_customer c ON o.o_custkey = c.c_custkey
             WHERE c.c_mktsegment = 'BUILDING'
             GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority)
           SELECT l_orderkey, rev, CAST(o_orderdate AS DATE) AS order_date,
                  o_orderpriority
           FROM revenue ORDER BY rev DESC, l_orderkey LIMIT 20"""
    )


@op(
    "set_symmetric_diff",
    """SELECT 'only_f' AS side, o_custkey FROM (
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
       UNION ALL
       SELECT 'only_o' AS side, o_custkey FROM (
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",
)
def set_symmetric_diff(spark: SparkSession, d: str) -> DataFrame:
    """Symmetric difference with a side tag [SPEC: audit reconciliation
    — keys present in exactly one batch, and which]."""
    o = t(spark, d, "orders")
    f = o.filter("o_orderstatus = 'F'").select("o_custkey").distinct()
    q = o.filter("o_orderstatus = 'O'").select("o_custkey").distinct()
    only_f = f.exceptAll(q).select(F.lit("only_f").alias("side"), "o_custkey")
    only_o = q.exceptAll(f).select(F.lit("only_o").alias("side"), "o_custkey")
    return only_f.unionByName(only_o)


@op(
    "sql_exists_decorrelated",
    """SELECT c_custkey, c_mktsegment FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 300000)
         AND NOT EXISTS (SELECT 1 FROM orders o2
                         WHERE o2.o_custkey = c.c_custkey
                           AND o2.o_orderstatus = 'P')""",
)
def sql_exists_decorrelated(spark: SparkSession, d: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL parser — Catalyst
    decorrelates both into semi/anti joins (SURVEY §4.2); same result
    as the DataFrame left_semi/left_anti composition, proved by the
    shared oracle."""
    t(spark, d, "customer").createOrReplaceTempView("sqlx_customer")
    t(spark, d, "orders").createOrReplaceTempView("sqlx_orders")
    return spark.sql(
        """SELECT c_custkey, c_mktsegment FROM sqlx_customer c
           WHERE EXISTS (SELECT 1 FROM sqlx_orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 300000)
             AND NOT EXISTS (SELECT 1 FROM sqlx_orders o2
                             WHERE o2.o_custkey = c.c_custkey
                               AND o2.o_orderstatus = 'P')"""
    )


@op(
    "sql_lateral_topk",
    """SELECT n.n_name, o.o_orderkey, o.o_totalprice
       FROM nation n,
            LATERAL (SELECT o_orderkey, o_totalprice
                     FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                     WHERE c.c_nationkey = n.n_nationkey
                     ORDER BY o_totalprice DESC, o_orderkey
                     LIMIT 2) o""",
)
def sql_lateral_topk(spark: SparkSession, d: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 orders per nation
    [EXT: SQL-surface parity — both engines support SQL:2016 LATERAL].

    Catalyst decorrelates the lateral into a ranked window over the
    joined relation (DecorrelateInnerQuery) — the physical plan is the
    same shuffle-once top-k-per-group as ``topk_per_group``, NOT a
    per-outer-row re-execution; at 100 TB the correlated form and the
    window form cost the same. The driver-facing columns are ordered
    deterministically by the LIMIT's total order key."""
    for name in ("nation", "customer", "orders"):
        t(spark, d, name).createOrReplaceTempView(f"lat_{name}")
    return spark.sql(
        """SELECT n.n_name, o.o_orderkey, o.o_totalprice
           FROM lat_nation n,
                LATERAL (SELECT o_orderkey, o_totalprice
                         FROM lat_orders o JOIN lat_customer c
                           ON o.o_custkey = c.c_custkey
                         WHERE c.c_nationkey = n.n_nationkey
                         ORDER BY o_totalprice DESC, o_orderkey
                         LIMIT 2) o"""
    )


@op(
    "join_asof_tolerance",
    f"""WITH p AS (
         SELECT event_id, user_id, {sql_epoch_floor_s('ts')} AS sec
         FROM events WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id, v.view_id AS asof_view_id_1h
       FROM p LEFT JOIN LATERAL (
         SELECT e.event_id AS view_id
         FROM events e
         WHERE e.event_type = 'view' AND e.user_id = p.user_id
           AND ({sql_epoch_floor_s('e.ts')} < p.sec
                OR ({sql_epoch_floor_s('e.ts')} = p.sec
                    AND e.event_id <= p.event_id))
           AND p.sec - {sql_epoch_floor_s('e.ts')} <= 3600
         ORDER BY {sql_epoch_floor_s('e.ts')} DESC, e.event_id DESC
         LIMIT 1) v ON TRUE""",
)
def join_asof_tolerance(spark: SparkSession, d: str) -> DataFrame:
    """As-of join with a max-staleness tolerance: the latest view
    at-or-before each purchase, but only if it happened within the
    last hour — otherwise NULL (pandas ``merge_asof(tolerance=...)``
    semantics) [EXT: feature freshness windows in training pipelines].

    Same single-shuffle union+window merge as ``join_asof_latest`` —
    the carried struct also brings the matched row's timestamp forward,
    and the tolerance is applied as a post-window filter expression,
    so the tolerance costs nothing extra at scale."""
    e = t(spark, d, "events")
    sec = epoch_s("ts").alias("sec")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        sec,
        "event_id",
        F.col("event_id").alias("view_id"),
        epoch_s("ts").alias("view_sec"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        sec,
        "event_id",
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("long").alias("view_sec"),
    )
    unioned = views.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "a_id", F.last("view_id", ignorenulls=True).over(w)
    ).withColumn("a_sec", F.last("view_sec", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("view_id").isNull())
        .select(
            "event_id",
            "user_id",
            F.when(F.col("sec") - F.col("a_sec") <= 3600, F.col("a_id")).alias(
                "asof_view_id_1h"
            ),
        )
    )


@op(
    "sql_recursive_hierarchy",
    """WITH RECURSIVE h(emp_id, mgr_id, depth, chain) AS (
         SELECT c_custkey AS emp_id, c_custkey // 10 AS mgr_id,
                0 AS depth, CAST(c_custkey AS VARCHAR) AS chain
         FROM customer WHERE c_custkey // 10 = 0 AND c_custkey > 0
         UNION ALL
         SELECT c.c_custkey, c.c_custkey // 10, h.depth + 1,
                h.chain || '/' || CAST(c.c_custkey AS VARCHAR)
         FROM customer c JOIN h ON c.c_custkey // 10 = h.emp_id
         WHERE c.c_custkey > 0)
       SELECT emp_id, mgr_id, CAST(depth AS INTEGER) AS depth, chain
       FROM h""",
)
def sql_recursive_hierarchy(spark: SparkSession, d: str) -> DataFrame:
    """Recursive CTE: management-chain transitive closure
    [SPEC: DimBroker manager hierarchy from HR records].

    Spark 4's WITH RECURSIVE executes as an iterative union (one
    distributed join per level, like the CC/PageRank supersteps but
    planned by the engine). The synthetic hierarchy (mgr = emp div
    10) is logarithmic-depth, so the recursion terminates in
    ~log10(N) joins at any scale. Same SQL runs on both engines."""
    t(spark, d, "customer").createOrReplaceTempView("rec_customer")
    return spark.sql(
        """WITH RECURSIVE h AS (
             SELECT c_custkey AS emp_id, c_custkey div 10 AS mgr_id,
                    0 AS depth, CAST(c_custkey AS STRING) AS chain
             FROM rec_customer WHERE c_custkey div 10 = 0 AND c_custkey > 0
             UNION ALL
             SELECT c.c_custkey, c.c_custkey div 10, h.depth + 1,
                    CONCAT(h.chain, '/', CAST(c.c_custkey AS STRING))
             FROM rec_customer c JOIN h ON c.c_custkey div 10 = h.emp_id
             WHERE c.c_custkey > 0)
           SELECT emp_id, mgr_id, CAST(depth AS INT) AS depth, chain
           FROM h"""
    )


@op(
    "join_null_safe",
    """WITH l AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                              ELSE o_orderkey % 5 END AS k
                  FROM orders),
          r AS (SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
                            ELSE c_custkey % 5 END AS k
                FROM customer)
       SELECT l.k AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
       GROUP BY l.k""",
)
def join_null_safe(spark: SparkSession, d: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out [SPEC: CDC key matching
    where unknown keys must still pair].

    ``eqNullSafe`` stays a hash-partitionable equi-condition (NULLs
    hash to one bucket), so this is a plain shuffled hash join — NOT
    a nested loop; the NULL bucket is a designed skew point to watch
    at scale (AQE skew handling or pre-filtering NULLs when the
    semantics allow)."""
    o = t(spark, d, "orders").select(
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderkey") % 5)
        .alias("k")
    )
    c = t(spark, d, "customer").select(
        F.when(F.col("c_custkey") % 11 == 0, None)
        .otherwise(F.col("c_custkey") % 5)
        .alias("lk")
    )
    return (
        o.join(c, F.col("k").eqNullSafe(F.col("lk")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@op(
    "join_interval_overlap",
    """WITH i AS (
         SELECT CAST(l_shipdate AS DATE) AS s,
                CAST(l_shipdate AS DATE)
                  + CAST(1 + l_linenumber % 14 AS INTEGER) AS e,
                l_quantity
         FROM lineitem),
       m AS (
         -- calendar derived from the DATA's month span (round-4: the
         -- former pinned 1995-2002 range silently dropped intervals
         -- outside it; the Spark side explodes per-interval months and
         -- has no such pin)
         SELECT CAST(ms AS DATE) AS month_start
         FROM (SELECT unnest(range(
                 (SELECT date_trunc('month', MIN(s)) FROM i),
                 (SELECT date_trunc('month', MAX(e)) + INTERVAL 1 MONTH
                  FROM i),
                 INTERVAL 1 MONTH)) AS ms)),
       j AS (
         SELECT m.month_start, i.l_quantity
         FROM m JOIN i
           ON i.s < m.month_start + INTERVAL 1 MONTH
          AND i.e >= m.month_start)
       SELECT month_start,
              CAST(COUNT(*) AS BIGINT) AS n_overlap,
              CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
                AS sum_qty
       FROM j GROUP BY month_start""",
)
def join_interval_overlap(spark: SparkSession, d: str) -> DataFrame:
    """Interval-overlap join: shipping windows vs the month calendar
    [SPEC: FactWatches date-pair resolution; period-overlap audits].

    The scale path is grid decomposition, NOT a theta join: each
    interval explodes into the months it spans (bounded fan-out: a
    ≤15-day interval hits ≤2 months), turning the overlap predicate
    into a pure equi-join key. The oracle states the same semantics
    as the naive theta join over a generated calendar. At 100 TB the
    explode is map-side (no driver calendar, no nested loop) and the
    single shuffle is the month-key aggregation."""
    li = t(spark, d, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            (F.lit(1) + F.col("l_linenumber") % 14).cast("int"),
        ).alias("e"),
        "l_quantity",
    )
    exploded = li.select(
        F.explode(
            F.sequence(
                F.trunc("s", "month"),
                F.trunc("e", "month"),
                F.expr("interval 1 month"),
            )
        ).alias("month_start"),
        "l_quantity",
    )
    return (
        exploded.groupBy("month_start")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.sum(F.col("l_quantity").cast("decimal(25,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@op(
    "sql_pipe_syntax",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
              COUNT(*) AS n
       FROM lineitem
       WHERE l_shipdate <= DATE '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def sql_pipe_syntax(spark: SparkSession, d: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, SPARK-49555): the |> operator chain
    mirrors DataFrame composition order inside SQL text. Parses to the
    identical Catalyst plan as the classic form — same pushdown, same
    partial aggregation — so the oracle is the classic rewrite."""
    t(spark, d, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        """FROM pipe_lineitem
           |> WHERE l_shipdate <= DATE '1998-09-02'
           |> EXTEND CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(25,6)) AS disc_price
           |> AGGREGATE CAST(SUM(disc_price) AS DOUBLE) AS revenue,
                        COUNT(*) AS n
              GROUP BY l_returnflag, l_linestatus"""
    )


@op(
    "sort_limit_offset",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10""",
)
def sort_limit_offset(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic pagination: total order (unique tiebreak) +
    offset + limit [EXT: report paging]. Spark executes this as a
    single-pass TakeOrdered of offset+limit rows — no global sort of
    the full relation."""
    o = t(spark, d, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(10)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@op(
    "join_bloom_runtime_filter",
    """SELECT l_orderkey, l_quantity, o_totalprice
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_totalprice > 400000""",
)
def join_bloom_runtime_filter(spark: SparkSession, d: str) -> DataFrame:
    """Runtime bloom-filter pushdown (SPARK-32268): with a selective
    filter on the build side of a shuffle join, the optimizer injects
    bloom_filter_agg on the build keys and a might_contain() predicate
    on the probe-side SCAN — probe rows that can't join are dropped
    before the shuffle. At 100 TB this is the difference between
    shuffling the full fact table and shuffling only the ~matching
    slice. The injection confs are scoped to this op: set, plan pinned
    eagerly (QueryExecution caches the optimized plan), then restored
    so the driver's other queries see an untouched session. Correctness
    is plan-independent — the oracle is the plain join."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # fixture-sized probe side would never cross the 10GB default
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # the rule skips joins whose build side is broadcastable by
        # size — at fixture scale everything is, so disable broadcast
        # within this op's planning window (restored below; at real
        # scale the filtered build side exceeds the threshold on its
        # own and none of these overrides are needed)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = t(spark, d, "lineitem")
        o = (
            t(spark, d, "orders")
            .filter(F.col("o_totalprice") > 400000)
            .hint("shuffle_hash")  # bloom targets shuffle joins, not broadcast
        )
        df = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        # Pin the bloom-injected plan while the confs are set
        # (QueryExecution caches the optimized plan). Classic sessions
        # only: under Spark Connect there is no _jdf handle and plans
        # are resolved server-side at action time, so the conf window
        # can't be pinned — the op still returns correct rows, it just
        # may plan without the bloom filter. Single-threaded-session
        # assumption: concurrent queries planned inside this window
        # would also see autoBroadcastJoinThreshold=-1.
        if hasattr(df, "_jdf"):
            df._jdf.queryExecution().optimizedPlan()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return df


@op(
    "sql_scalar_subquery_corr",
    """SELECT c_custkey, c_acctbal,
              (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
                      / COUNT(*)
               FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
                AS nation_avg
       FROM customer c
       WHERE c_acctbal > (SELECT CAST(SUM(CAST(c3.c_acctbal AS DECIMAL(25,6)))
                                      AS DOUBLE) / COUNT(*)
                          FROM customer c3
                          WHERE c3.c_nationkey = c.c_nationkey)""",
)
def sql_scalar_subquery_corr(spark: SparkSession, d: str) -> DataFrame:
    """Correlated SCALAR subqueries (select-list + predicate): Catalyst
    decorrelates the per-nation average into ONE grouped aggregation
    joined back on the correlation key — not a re-executed subquery per
    outer row (SURVEY §4.2 subquery decorrelation). The exact-decimal
    average keeps the threshold comparison bit-identical across
    engines."""
    t(spark, d, "customer").createOrReplaceTempView("sclr_customer")
    return spark.sql(
        """SELECT c_custkey, c_acctbal,
                  (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
                          / COUNT(*)
                   FROM sclr_customer c2 WHERE c2.c_nationkey = c.c_nationkey)
                    AS nation_avg
           FROM sclr_customer c
           WHERE c_acctbal > (SELECT CAST(SUM(CAST(c3.c_acctbal AS DECIMAL(25,6)))
                                          AS DOUBLE) / COUNT(*)
                              FROM sclr_customer c3
                              WHERE c3.c_nationkey = c.c_nationkey)"""
    )
