"""TPC-DI ETL pipeline stages, Spark-first.

Each stage is a pure DataFrame → DataFrame function so the Historical
Load and Incremental Update phases compose the same code [SPEC: batch
phases share transformation rules]. Scale posture per stage is noted
inline — these run on dimension-sized data locally but the shapes are
the ones that must survive 100 TB fact tables.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HIGH_DATE = "9999-12-31"


# --------------------------------------------------------------------------
# SCD2 dimension build [SPEC: DimCustomer/DimAccount/DimCompany/DimSecurity]
# --------------------------------------------------------------------------


def scd2_build(
    actions: DataFrame,
    natural_key: str,
    eff_col: str,
    attr_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """History-tracked dimension from an action/version stream.

    EndDate = lead(EffectiveDate) (half-open intervals — gap-free and
    non-overlapping by construction, validated in tests), IsCurrent =
    lead IS NULL, surrogate key = dense global ordinal.

    Scale: one shuffle on the natural key for the window; the surrogate
    key uses a per-key ordinal combined with a key hash rather than a
    global row_number (a global window would single-reduce at 100 TB).
    """
    w = Window.partitionBy(natural_key).orderBy(eff_col, tiebreak)
    nxt = F.lead(F.col(eff_col)).over(w)
    return actions.select(
        F.concat_ws(
            "-", F.col(natural_key).cast("string"), F.row_number().over(w).cast("string")
        ).alias("sk"),
        F.row_number().over(w).alias("version"),
        F.col(natural_key),
        *[F.col(c) for c in attr_cols],
        F.col(eff_col).alias("effective_date"),
        F.coalesce(nxt, F.lit(HIGH_DATE).cast(dict(actions.dtypes)[eff_col])).alias("end_date"),
        nxt.isNull().alias("is_current"),
    )


def scd2_change_filter(
    actions: DataFrame, natural_key: str, eff_col: str, attr_cols: list[str], tiebreak: str
) -> DataFrame:
    """Emit only actions that change tracked attributes vs the previous
    version [SPEC: incremental UPDCUST emits a new version only on
    change] — lag() over the key, struct inequality."""
    w = Window.partitionBy(natural_key).orderBy(eff_col, tiebreak)
    cur = F.struct(*[F.col(c) for c in attr_cols])
    prev = F.lag(cur).over(w)
    return actions.withColumn("_prev", prev).filter(
        F.col("_prev").isNull() | (cur != F.col("_prev"))
    ).drop("_prev")


def surrogate_lookup(
    fact: DataFrame, dim: DataFrame, fact_key: str, fact_date: str, dim_key: str | None = None
) -> DataFrame:
    """Resolve the SCD2 surrogate key a fact row belongs to: equi-join
    on the natural key with the date-range residual [SPEC: historical
    SK resolution]. The equi conjunct keeps this sort-merge/broadcast —
    never a nested loop (SURVEY §4.3)."""
    d = dim.select(
        F.col(dim_key or fact_key).alias("_nk"),
        F.col("sk"),
        F.col("effective_date").alias("_eff"),
        F.col("end_date").alias("_end"),
        F.col("is_current").alias("_cur"),
    )
    cond = (
        (fact[fact_key] == d["_nk"])
        & (fact[fact_date] >= d["_eff"])
        & ((fact[fact_date] < d["_end"]) | d["_cur"])
    )
    return fact.join(d, cond, "left").drop("_nk", "_eff", "_end", "_cur")


def scd2_apply_incremental(
    dim: DataFrame,
    batch: DataFrame,
    natural_key: str,
    eff_col: str,
    attr_cols: list[str],
    tiebreak: str,
    check_order: bool = True,
) -> DataFrame:
    """Incremental SCD2 update [SPEC: Batch2/3 dimension maintenance]:
    close each touched key's current row at the batch's first effective
    date, append the batch's versions (numbering continues), leave
    untouched keys as-is.

    Invariant (asserted in tests): applying a batch whose effective
    dates all follow the existing history equals rebuilding the
    dimension from the combined action set — incremental and historical
    loads share one semantic. Cost shape: the dim side is touched only
    for keys in the batch (broadcast-able key set at typical batch
    sizes); one window shuffle over the batch.

    ``check_order=False`` skips the eager ordering-precondition probe:
    the probe is a driver-side ``count()`` that evaluates the ENTIRE
    dim lineage at call time — a full extra SCD2 window pass per call,
    data work the driver does before the plan even runs. Callers whose
    batch is late-proof BY CONSTRUCTION (e.g. tpcdi_batch_e2e shifts
    every batch date span+1 days past max history eff) may skip it;
    default stays on for arbitrary inputs.
    """
    date_type = dict(dim.dtypes)["effective_date"]
    wb = Window.partitionBy(natural_key).orderBy(eff_col, tiebreak)
    batch_first = batch.groupBy(natural_key).agg(
        F.min(eff_col).alias("_first_new_eff")
    )
    if check_order:
        # enforce the ordering precondition instead of documenting it:
        # a batch eff at or before a key's current row would close that
        # row at a date before it opened (end < effective), silently
        # corrupting the history and downstream surrogate_lookups.
        # A plain count, not limit(1).count(): a limit's generated code
        # names its row counter from a JVM-wide sequence, so every call
        # would compile new classes.
        late = (
            dim.filter("is_current")
            .join(batch_first, natural_key)
            .filter(F.col("_first_new_eff") <= F.col("effective_date"))
            .count()
        )
        if late:
            raise ValueError(
                "scd2_apply_incremental: batch contains effective dates at "
                "or before a key's current version — late-arriving history "
                "must be applied via a full rebuild (scd2_build over the "
                "combined actions)"
            )
    base_ver = dim.groupBy(natural_key).agg(F.max("version").alias("_base_ver"))

    # 1. existing rows: close the current row of touched keys
    closed = (
        dim.join(batch_first, natural_key, "left")
        .withColumn(
            "end_date",
            F.when(
                F.col("is_current") & F.col("_first_new_eff").isNotNull(),
                F.col("_first_new_eff"),
            ).otherwise(F.col("end_date")),
        )
        .withColumn(
            "is_current",
            F.col("is_current") & F.col("_first_new_eff").isNull(),
        )
        .drop("_first_new_eff")
    )

    # 2. batch rows: continue version numbering per key
    nxt = F.lead(F.col(eff_col)).over(wb)
    new_rows = (
        batch.join(base_ver, natural_key, "left")
        .withColumn("_ver", F.coalesce(F.col("_base_ver"), F.lit(0)) + F.row_number().over(wb))
        .select(
            F.concat_ws(
                "-", F.col(natural_key).cast("string"), F.col("_ver").cast("string")
            ).alias("sk"),
            F.col("_ver").alias("version"),
            F.col(natural_key),
            *[F.col(c) for c in attr_cols],
            F.col(eff_col).alias("effective_date"),
            F.coalesce(nxt, F.lit(HIGH_DATE).cast(date_type)).alias("end_date"),
            nxt.isNull().alias("is_current"),
        )
    )
    return closed.unionByName(new_rows)


# --------------------------------------------------------------------------
# FactCashBalances [SPEC: daily cumulative cash per account]
# --------------------------------------------------------------------------


def fact_cash_balances(cash_tx: DataFrame, acct_col: str, ts_col: str, amt_col: str) -> DataFrame:
    """Daily net flow + running balance per account.

    Two stages, one shuffle: groupBy (account, day) with map-side
    partial sums, then a window cumsum within account ordered by day.
    Sums go through DECIMAL so balances are exact at any parallelism.
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    daily = cash_tx.groupBy(F.col(acct_col).alias("account_id"), day).agg(
        F.sum(F.col(amt_col).cast("decimal(25,6)")).alias("net_flow_dec")
    )
    w = (
        Window.partitionBy("account_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "account_id",
        "day",
        F.col("net_flow_dec").cast("double").alias("net_flow"),
        F.sum("net_flow_dec").over(w).cast("double").alias("balance"),
    )


# --------------------------------------------------------------------------
# FactMarketHistory [SPEC: 52-week high/low + dates, PE via as-of EPS]
# --------------------------------------------------------------------------


def fact_market_history(
    quotes: DataFrame, key_col: str, date_col: str, price_col: str
) -> DataFrame:
    """Per-key daily market rows with trailing-364-day high/low and the
    dates they occurred (RANGE frame over epoch seconds).

    High/low *dates* via lexicographic struct max/min over the same
    frame [SPEC: FiftyTwoWeekHighDate/LowDate] — ties resolve to the
    latest date for highs and the earliest for lows, identically in
    Spark and DuckDB (both compare structs field-by-field). One
    shuffle on the key serves all four window measures.
    """
    sec = F.unix_timestamp(F.col(date_col).cast("timestamp"))
    wr = Window.partitionBy(key_col).orderBy(sec).rangeBetween(-364 * 86400, 0)
    pd_struct = F.struct(F.col(price_col).alias("p"), F.col(date_col).alias("d"))
    return quotes.select(
        F.col(key_col).alias("key"),
        F.col(date_col).alias("quote_date"),
        F.col(price_col).alias("close_price"),
        F.max(price_col).over(wr).alias("high_52wk"),
        F.max(pd_struct).over(wr).getField("d").alias("high_52wk_date"),
        F.min(price_col).over(wr).alias("low_52wk"),
        F.min(pd_struct).over(wr).getField("d").alias("low_52wk_date"),
    )


def asof_enrich(
    facts: DataFrame,
    versions: DataFrame,
    key: str,
    fact_seq: str,
    ver_seq: str,
    payload: str,
) -> DataFrame:
    """Attach the latest version payload with seq ≤ fact seq (as-of
    join) via the union+window merge: one shuffle on the key, no theta
    join [SPEC: PE ratio needs the most recent quarterly EPS]."""
    v = versions.select(
        F.col(key), F.col(ver_seq).alias("_seq"), F.col(payload).alias("_payload")
    ).withColumn("_is_fact", F.lit(False))
    f = facts.withColumn("_seq", F.col(fact_seq)).withColumn("_is_fact", F.lit(True)).withColumn(
        "_payload", F.lit(None).cast(dict(v.dtypes)["_payload"])
    )
    unioned = f.select(v.columns + [c for c in f.columns if c not in v.columns]).unionByName(
        v, allowMissingColumns=True
    )
    # _payload as final tiebreak: two versions sharing a sequence value
    # would otherwise leave F.last shuffle-order-nondeterministic — with
    # it, the greatest payload among ties wins, deterministically
    w = (
        Window.partitionBy(key)
        .orderBy("_seq", F.col("_is_fact").cast("int"), "_payload")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("asof_" + payload, F.last("_payload", ignorenulls=True).over(w))
    return carried.filter(F.col("_is_fact")).drop("_seq", "_is_fact", "_payload")


# --------------------------------------------------------------------------
# CDC incremental apply [SPEC: CDC_FLAG I/U/D + CDC_DSN sequence]
# --------------------------------------------------------------------------


def cdc_apply(current: DataFrame, cdc: DataFrame, key_cols: list[str]) -> DataFrame:
    """Apply a CDC extract to the current table state: highest CDC_DSN
    wins per key; D deletes, I/U upsert. One shuffle on the key."""
    w = Window.partitionBy(*key_cols).orderBy(F.col("cdc_dsn").desc())
    latest = (
        cdc.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    survivors = current.join(latest.select(*key_cols), key_cols, "left_anti")
    upserts = latest.filter(F.col("cdc_flag") != "D").drop("cdc_flag", "cdc_dsn")
    return survivors.unionByName(upserts)


# --------------------------------------------------------------------------
# Audit phase [SPEC: batch validation queries, SCD2 non-overlap validation]
# --------------------------------------------------------------------------


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: a name passed in by a
    caller reaches SQL text only quoted, whatever quotes or
    backslashes it holds."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def report(stats: DataFrame, fields: list[str], rows: list[tuple[str, ...]]) -> DataFrame:
    """Audit report rows from a 1-row ``stats`` relation.

    Each entry of ``rows`` is one report row: a SQL expression over the
    stats columns per name in ``fields``. All rows are inline()d from
    one struct array in one projection, so the report adds no pass over
    the data — only the aggregates under ``stats`` read it. SQL text
    rather than ``F.*`` calls: a few py4j round trips for the whole
    report instead of about a dozen per row, with the same plan
    (tests/test_build_layer.py)."""
    structs = ", ".join(
        "struct(" + ", ".join(f"{e} AS `{f}`" for f, e in zip(fields, row)) + ")"
        for row in rows
    )
    return stats.selectExpr(f"inline(array({structs}))")


def batch_validation(tables: dict[str, DataFrame], batch_id: int) -> DataFrame:
    """Row-count message rows, one per warehouse table: each table's
    count is reported from its own 1-row aggregate and the rows are
    unioned. Not crossJoined into one stats row: the cross joins of
    1-row relations plan as broadcast stages that run after the counts,
    which measured 0.12 → 0.15 s (warm, sf0.1) on three tables."""
    return reduce(
        DataFrame.unionByName,
        [
            report(
                df.agg(F.count(F.lit(1)).alias("_n")),
                ["batch_id", "message_source", "message_type", "message_text"],
                [(str(int(batch_id)), sql_str(name), "'Row count'", "CAST(_n AS STRING)")],
            )
            for name, df in tables.items()
        ],
    )


def scd2_audit(dim: DataFrame, natural_key: str) -> DataFrame:
    """SCD2 audit [SPEC: SCD2 non-overlap validation]: one row with the
    dimension's ``n_rows``, ``n_current`` and ``n_violations``; a valid
    dimension has ``n_violations == 0``.

    A violation is a chain break — a version whose end_date is not its
    successor's effective_date, or a last version that is not current —
    or a key with more than one current row: n_violations = COUNT(break
    rows) + COUNT(DISTINCT keys with >1 current row). Both checks are
    windows partitioned by the natural key, so they share one exchange
    (Spark plans the second window over the same partitioning without
    another shuffle), and one global aggregate counts rows, current
    rows and violations on top of them."""
    wver = Window.partitionBy(natural_key).orderBy("version")
    wkey = Window.partitionBy(natural_key)
    return (
        dim.withColumn("_nxt", F.lead("effective_date").over(wver))
        .withColumn("_ncur", F.count(F.when(F.col("is_current"), 1)).over(wkey))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("is_current"), 1)).alias("n_current"),
            (
                F.count(
                    F.when(
                        (F.col("_nxt").isNotNull() & (F.col("end_date") != F.col("_nxt")))
                        | (F.col("_nxt").isNull() & ~F.col("is_current")),
                        1,
                    )
                )
                + F.count_distinct(
                    F.when(F.col("is_current") & (F.col("_ncur") > 1), F.col(natural_key))
                )
            ).alias("n_violations"),
        )
    )
