"""Round-14 prep: the deferred-fix recipes from round 13, pinned
mechanically ONE ROUND EARLY (test-only — the r13 window is at its
35-mandatory-r6 capacity with 15 elevations, so these op/oracle edits
land in r14; the tests prove the replacement recipes are correct NOW
and pin the exact worklist so the r14 session applies them without
re-derivation). The same pattern r12 used for the r13 wave
(tests/test_r13_prep.py).

Deferred items, each with an executable pin below:

1. FLOOR(EPOCH) residue sites — r13 migrated the 11 probe-caught
   oracles to the exact integer floor (see _util.sql_epoch_floor_s);
   a this-round audit of every remaining `FLOOR(EPOCH(...))` oracle
   site found FOUR more on the µs-fractional `events.ts` column that
   carry the same latent +1 s class (they matched the r12 probe only
   because no event landed within ~2 µs below a second boundary):
   dedup_latest_by_key, stream_session_window (via MIN(ts)),
   stream_watermark_late, stream_foreachbatch_upsert — plus
   the two oracles that went through a forwarding helper
   (tpcdi_dim_trade, events_funnel; they now call sql_epoch_floor_s).
   The whole-second sites (l_shipdate / o_orderdate / date_trunc
   inputs) are immune: EPOCH's double is exact on whole
   seconds far below 2^53. test_floor_epoch_site_census pins the
   exact census so a new site cannot appear unnoticed.
   EMPIRICALLY CONFIRMED r13 (tools/probe_r13_epoch_edge.py fraction
   axis: 2287-era events with hostile µs fractions, 26 rows on
   DuckDB double-floor-divergent instants): stream_session_window,
   stream_watermark_late and tpcdi_dim_trade HASH-diverged with the
   literal +1 s (…000 vs …001) while ALL 11 r13-migrated oracles
   MATCHED on the same fixture; the remaining three sites survived
   only because their floors feed ordering/comparisons that those 26
   instants didn't flip — same class, migrate all six.
2. scan_python_datasource — the FINWIRE CIK char(10) writer still
   lpad-TRUNCATES 11+-digit ids; r13 fixed the twin op
   scan_text_fixedwidth to the mod-1e10 residue convention.
3. agg_first_last — ADVICE r12 (medium): the struct ordering key is
   never NULL (struct ordering sorts the null field first), so a
   NULL-ts row wins Spark's min_by while the oracle's HUGEINT key
   NULL-propagates and arg_min skips it. The NULL-gated key restores
   agreement; both behaviors pinned dual-engine below.
4. tpcdi_prospect_match — ADVICE r12 (low): the wraparound re-key is
   only injective for NONNEGATIVE c_custkey; a negative key maps via
   the +5e6 branch into [0, 5e6), colliding with the top-band wrap
   range. Parity holds (oracle mirrors the CASE); r14 either states
   the nonnegative contract in the docstring or normalizes negatives
   the way _split_bucket does.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest
from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.plans import registry
from tpc_di_etl_using_pyspark_spark.plans._util import epoch_s, sql_epoch_floor_s

# The 11 oracles r13 migrated to the exact integer floor.
MIGRATED_R13 = {
    "join_asof_latest",
    "join_asof_tolerance",
    "win_lag_change",
    "win_running_distinct",
    "win_sessionize_gap",
    "win_interpolate_linear",
    "stream_stream_join",
    "win_pattern_vshape",
    "win_rolling_corr",
    "win_range_time_interval",
    "stream_sliding_sum",
}

# Former old-form sites on the µs-fractional events.ts column —
# MIGRATED in r14 (this round): the four literal sites carry the
# sql_epoch_floor_s text, and tpcdi_dim_trade / events_funnel
# interpolate sql_epoch_floor_s itself.
R14_FRACTIONAL_SITES = {
    "dedup_latest_by_key",
    "stream_session_window",
    "stream_watermark_late",
    "stream_foreachbatch_upsert",
    # helper adopters
    "tpcdi_dim_trade",
    "events_funnel",
}

# Old-form sites on whole-second inputs (dates cast to timestamps,
# date_trunc outputs) — EPOCH's double is exact there, no migration
# needed; pinned so the distinction is auditable.
WHOLE_SECOND_SITES = {
    "win_moving_avg",
    "win_range_52wk",
    "win_first_last_value",
    "win_slope_rolling",
    "stream_tumbling_count",
    "date_parse",
    "events_retention",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def test_floor_epoch_site_census():
    """After the r14 migration, every oracle still carrying the
    double-path FLOOR(EPOCH(...)) form is on the audited whole-second
    immune list (EPOCH's double is exact on whole seconds far below
    2^53). A new site fails here and must be classified."""
    oracles = registry.all_oracles()
    old_form = {k for k, v in oracles.items() if "FLOOR(EPOCH(" in v}
    assert old_form == WHOLE_SECOND_SITES, (
        sorted(old_form ^ WHOLE_SECOND_SITES)
    )
    # and none of the migrated oracles regressed to the old form
    assert not (old_form & (MIGRATED_R13 | R14_FRACTIONAL_SITES))


def test_migrated_oracles_embed_the_helper_form():
    """The 11 r13-migrated + 4 r14-migrated literal-site oracles embed
    sql_epoch_floor_s('ts') (or the aliased/aggregated variants)
    byte-for-byte — the helper and the literals cannot drift apart."""
    oracles = registry.all_oracles()
    aliased = {
        "join_asof_latest": "e.ts",
        "join_asof_tolerance": "e.ts",
        "stream_stream_join": "p.pts",
        "stream_session_window": "MIN(ts)",
    }
    literal_r14 = {
        "dedup_latest_by_key",
        "stream_session_window",
        "stream_watermark_late",
        "stream_foreachbatch_upsert",
    }
    for op in sorted(MIGRATED_R13 | literal_r14):
        expr = aliased.get(op, "ts")
        assert sql_epoch_floor_s(expr) in oracles[op], op
    # the helper adopters interpolate the same form
    for op in ("tpcdi_dim_trade", "events_funnel"):
        assert sql_epoch_floor_s("ts") in oracles[op], op
        assert "FLOOR(EPOCH(" not in oracles[op], op


def test_epoch_floor_is_written_only_in_its_helper():
    """The floor-mod text lives in _util.sql_epoch_floor_s alone: every
    oracle interpolates the helper, so no copy can drift from it.
    tpcdi_ops interpolates it at exactly 5 sites, tpcdi_dim_trade (2)
    and events_funnel (3)."""
    import glob
    import inspect
    import os

    import tpc_di_etl_using_pyspark_spark.plans as plans_pkg
    from tpc_di_etl_using_pyspark_spark.plans import _util, tpcdi_ops

    floor_mod = "% 1000000 + 1000000) % 1000000"
    assert inspect.getsource(_util).count(floor_mod) == 1
    assert not hasattr(_util, "sql_epoch_s")
    plans_dir = os.path.dirname(plans_pkg.__file__)
    for path in glob.glob(os.path.join(plans_dir, "*.py")):
        if os.path.basename(path) != "_util.py":
            assert floor_mod not in open(path).read(), path
    assert inspect.getsource(tpcdi_ops).count("sql_epoch_floor_s('ts')") == 5


def test_pyds_cik_truncation_and_residue_recipe(spark, duck):
    """scan_python_datasource's writer lpad silently keeps the
    LEFTMOST 10 chars of an 11+-digit id (the defect); the mod-1e10
    residue form matches scan_text_fixedwidth's r13 convention and
    DuckDB's % identically."""
    big = 98765432101  # 11 digits
    df = spark.createDataFrame([(big,)], "p_partkey long")
    row = df.select(
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("trunc"),
        F.lpad(
            (F.col("p_partkey") % 10_000_000_000).cast("string"), 10, "0"
        ).alias("residue"),
    ).collect()[0]
    assert row.trunc == "9876543210", (
        "Spark lpad no longer truncates — re-adjudicate the r14 "
        "scan_python_datasource deferral"
    )
    assert row.residue == "8765432101"
    d_res = duck.execute(
        "SELECT lpad(CAST(? % 10000000000 AS VARCHAR), 10, '0')", [big]
    ).fetchone()[0]
    assert d_res == row.residue


_FL_ROWS = [
    (1, None, 99.0, 7),
    (1, datetime.datetime(2024, 1, 1), 5.0, 2),
    (1, datetime.datetime(2024, 1, 2), 8.0, 3),
]

_FL_ORACLE = """
WITH k AS (SELECT user_id, value,
  CAST((epoch_us(ts) - ((epoch_us(ts) % 1000000 + 1000000) % 1000000))
       // 1000000 AS HUGEINT)
  * 18446744073709551616::HUGEINT + event_id AS ord FROM events)
SELECT arg_min(value, ord) AS f, arg_max(value, ord) AS l
FROM k GROUP BY user_id
"""


def test_agg_first_last_null_ts_divergence_and_gated_recipe(spark, duck):
    """ADVICE r12 medium, reproduced: the current never-NULL struct
    key lets the NULL-ts row win Spark's min_by (struct ordering
    sorts the null field first) while DuckDB's NULL-propagating
    HUGEINT key makes arg_min skip it. The NULL-gated key (the r14
    recipe) restores agreement because min_by/max_by skip NULL
    ordering keys exactly like arg_min/arg_max."""
    df = spark.createDataFrame(
        _FL_ROWS, "user_id int, ts timestamp, value double, event_id long"
    )
    cur = F.struct(epoch_s("ts").alias("s"), F.col("event_id").alias("i"))
    gated = F.when(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull(), cur
    )
    got_cur = df.groupBy("user_id").agg(
        F.min_by("value", cur).alias("f"), F.max_by("value", cur).alias("l")
    ).collect()[0]
    got_gated = df.groupBy("user_id").agg(
        F.min_by("value", gated).alias("f"),
        F.max_by("value", gated).alias("l"),
    ).collect()[0]
    duck.execute("DROP TABLE IF EXISTS events")
    duck.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        "(1, NULL::TIMESTAMP, 99.0, 7),"
        "(1, TIMESTAMP '2024-01-01', 5.0, 2),"
        "(1, TIMESTAMP '2024-01-02', 8.0, 3)"
        ") t(user_id, ts, value, event_id)"
    )
    d_f, d_l = duck.execute(_FL_ORACLE).fetchone()
    duck.execute("DROP TABLE events")
    assert (float(d_f), float(d_l)) == (5.0, 8.0)
    assert (got_cur.f, got_cur.l) == (99.0, 8.0), (
        "Spark min_by no longer takes the NULL-ts row under the "
        "ungated struct key — re-adjudicate the r14 agg_first_last "
        "deferral"
    )
    assert (got_gated.f, got_gated.l) == (5.0, 8.0)


def test_prospect_rekey_negative_key_collision(duck):
    """ADVICE r12 low: the wraparound re-key's injectivity claim
    assumes nonnegative keys. Counterexample pinned: the negative key
    -4999999 and the top-band key 2^63-5000000+1 both map to 1."""
    case = (
        "CASE WHEN k > 9223372036849775807 THEN k - 9223372036849775808 "
        "ELSE k + 5000000 END"
    )
    rows = duck.execute(
        f"SELECT k, {case} FROM (SELECT unnest("
        "[-4999999, 9223372036849775809]) AS k)"
    ).fetchall()
    imgs = [r[1] for r in rows]
    assert imgs[0] == imgs[1] == 1, rows


def test_audit_pk_multicol_countdistinct_recipe(spark, duck):
    """r13 BASELINE adjudication (VERDICT r12 item 5): the
    audit_data_quality inflation is OP-SHAPED — idle best-of-7 on
    byte-identical code reads 1.647 s vs the 0.796 s r4 anchor, and
    ~0.4 s of it is the r12 string-concat pk materialized per row
    inside COUNT(DISTINCT) (measured head-to-head at sf0.1: concat
    1.065 s vs multi-column 0.668 s best-of-5, identical counts).
    The r14 rewrite keeps the injectivity the r12 fix bought with no
    per-row string: Spark count_distinct(l_orderkey, l_linenumber) ==
    DuckDB COUNT(DISTINCT ROW(l_orderkey, l_linenumber)); both
    treat the pair position-wise exactly, pinned here on a
    duplicate-bearing relation (window budget defers the edit)."""
    from pyspark.sql import functions as F

    rows = [(i // 7, i % 7) for i in range(1000)] + [(3, 2)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_linenumber long")
    got = df.agg(
        (
            F.count(F.lit(1))
            - F.count_distinct("l_orderkey", "l_linenumber")
        ).cast("bigint").alias("v")
    ).collect()[0].v
    duck.execute("DROP TABLE IF EXISTS li_pk")
    duck.execute(
        "CREATE TABLE li_pk AS SELECT (i // 7) AS l_orderkey, "
        "(i % 7) AS l_linenumber FROM range(1000) t(i) UNION ALL SELECT 3, 2"
    )
    want_row = duck.execute(
        "SELECT COUNT(*) - COUNT(DISTINCT ROW(l_orderkey, l_linenumber)), "
        "COUNT(*) - COUNT(DISTINCT CAST(l_orderkey AS VARCHAR) || '-' || "
        "CAST(l_linenumber AS VARCHAR)) FROM li_pk"
    ).fetchone()
    duck.execute("DROP TABLE li_pk")
    assert got == want_row[0] == want_row[1] == 1
