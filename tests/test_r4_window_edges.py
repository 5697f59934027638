"""Determinism-edge tests for a block of scalar, streaming and UDF
ops. Companion to tests/test_r3_window_edges.py, same shape: each
test drives the REAL registered op+oracle pair (both engines) on a
hand-built fixture whose values sit exactly on the op's determinism
edges. Motivated by the r9 exact-boundary probe that found the
stream_session_window oracle splitting at gap == 1800 s while Spark's
session_window merges (fixed in plans/streaming_ops.py; the boundary
is pinned here so it cannot regress).

Edges pinned:

- session gap EXACTLY equal to the 30-min timeout merges (Spark
  session_window semantics: an event on the previous window's
  exclusive end extends it); timeout + 1 µs splits;
- watermark late-drop boundary is inclusive: an event exactly
  max_seen - 600 s is KEPT, 1 µs older is DROPPED, and arrival order
  (event_id), not event time, drives the running max;
- sliding/tumbling window alignment for PRE-EPOCH timestamps:
  negative-second events floor to the window start BELOW them
  (epoch -1 µs lands in the hour starting at -3600, in the four
  15-min-slide hours starting -3600..-900);
- try_multiply / try_add NULL exactly past the BIGINT bound
  (1023 * 2^53 fits, 1024 overflows; 30000 + (2^63-1-30000) hits
  MAX exactly, 30001 overflows), try_divide NULLs k % 7 == 0;
- try_cast of non-numeric / empty / whitespace-only strings is NULL
  on both engines, negative integer strings parse, and double->BIGINT
  truncates toward zero (-2.5 -> -2, -0.5 -> 0);
- ISO-week extraction across year boundaries (2021-01-01 -> week 53
  of 2020; 2024-12-30 -> week 1 of 2025) and leap-day / century
  (1900-02-28, 2000-02-29) date math.

Fixture invariants kept: event_id / o_orderkey unique; events.ts
microsecond-precision NTZ; value magnitudes inside the dsum DECIMAL
exactness bound; o_orderstatus strings are DATA for cast_types only.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

from .conftest import assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()

_EPOCH = datetime.datetime(1970, 1, 1)


def _us(micros):
    """Timestamp at an exact microsecond offset from the epoch."""
    return _EPOCH + datetime.timedelta(microseconds=micros)


_H = 3_600_000_000  # one hour in µs
_DAY15 = 19_738 * 86_400_000_000  # 2024-01-15 00:00:00 in µs


def _t(h, m=0, s=0, us=0):
    """2024-01-15 HH:MM:SS.us as exact µs from epoch."""
    return _DAY15 + ((h * 60 + m) * 60 + s) * 1_000_000 + us


def _events_rows():
    # (event_id, ts_us, user_id, event_type, value) — event_id IS the
    # arrival order for stream_watermark_late.
    rows = [
        # user 2, PRE-EPOCH: -900 s exactly (a 15-min boundary),
        # -1 µs (floors to second -1), and epoch 0. One session.
        (1, -900 * 1_000_000, 2, "click", 2.675),
        (2, -1, 2, "view", 0.000001),
        (3, 0, 2, "click", -1.115),
        # user 1: gap EXACTLY 1800 s merges; 1800 s + 1 µs splits.
        (4, _t(6), 1, "click", 1.0),
        (5, _t(6, 30), 1, "view", 2.0),  # 06:30:00.000000 — exact gap
        (6, _t(7, 0, 0, 1), 1, "click", 4.0),  # 07:00:00.000001 — new
        # user 9, watermark boundary (arrival = id order):
        (7, _t(8), 9, "click", 8.0),  # max -> 08:00
        (8, _t(7, 50), 9, "view", 16.0),  # EXACTLY max-600s -> KEPT
        (9, _t(7, 49, 59, 999_999), 9, "view", 32.0),  # 1 µs older -> DROP
        (10, _t(8, 30), 9, "click", 64.0),  # max -> 08:30
        (11, _t(7, 30), 9, "buy", 128.0),  # < 08:20 -> DROP
        (12, _t(9, 0, 0, 1), 9, "click", 256.0),  # gap 1800s+1µs -> new sess
        # NULL user: one window group on both engines; exact-gap+1µs split
        (13, _t(10), None, "click", 0.125),
        (14, _t(10, 30, 0, 1), None, "click", 0.25),
    ]
    return [(i, _us(us), u, et, v, "{}") for i, us, u, et, v in rows]


def _orders_rows():
    d = datetime.datetime
    # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate)
    rows = [
        (1, 1, "F", 99.999, d(2024, 2, 29)),  # leap day
        (2, 2, "-3", 4567.125, d(1970, 1, 1)),  # negative int string
        (7, 3, "O", -2.5, d(2021, 1, 1)),  # k%7=0 div NULL; ISO week 53
        (14, 4, "P", 2.5, d(2024, 12, 30)),  # div NULL; ISO week 1 of 2025
        (1023, 5, "7", 0.005, d(1900, 2, 28)),  # mul fits: 1023*2^53 < 2^63
        (1024, 6, "", -0.5, d(1970, 1, 1, 12)),  # mul overflows -> NULL
        (30000, 7, " ", 123.455, d(1999, 12, 31)),  # add hits MAX exactly
        (30001, 8, "x", 1e-9, d(2000, 2, 29)),  # add overflows -> NULL
    ]
    return [(k, ck, st, pr, dt, "1-URGENT") for k, ck, st, pr, dt in rows]


_SCHEMAS = {
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
}

_ROWS = {"events": _events_rows, "orders": _orders_rows}


@pytest.fixture(scope="module")
def r4_edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("r4_window_edges")
    for name, schema in _SCHEMAS.items():
        rows = _ROWS[name]()
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        pq.write_table(table, str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def r4_edge_duck(r4_edge_dir):
    con = duckdb.connect()
    for name in _SCHEMAS:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{r4_edge_dir}/{name}.parquet')"
        )
    yield con
    con.close()


# (op, minimum output rows — a floor so the test can't pass vacuously)
_CASES = [
    ("stream_tumbling_count", 8),  # hours -3600, 0, 06..10 × types
    ("stream_sliding_sum", 12),  # ≥4 windows per occupied hour
    ("stream_session_window", 7),  # 1+2+2+2 sessions incl NULL user
    ("stream_watermark_late", 11),  # 14 events − 3 dropped
    ("stream_dedup_state", 8),  # distinct (user, type) pairs
    ("date_trunc_bucket", 3),  # 1969-12-31, 1970-01-01, 2024-01-15
    ("bit_ops", 14),  # every event incl NULL-user xor
    ("json_variant_explode", 42),  # 14 events × 3 positions
    ("math_try_overflow", 8),
    ("cast_types", 8),
    ("date_parse", 8),
    ("date_arith", 8),
    ("date_extract", 8),
    ("date_boundaries", 8),
]


@pytest.mark.parametrize("op,min_rows", _CASES, ids=[c[0] for c in _CASES])
def test_r4_window_op_on_boundary_fixture(op, min_rows, spark, r4_edge_dir, r4_edge_duck):
    df = _QUERIES[op](spark, r4_edge_dir)
    n = df.count()
    assert n >= min_rows, (
        f"{op}: boundary fixture produced {n} rows (< {min_rows}) — the "
        f"edge being pinned is not actually exercised"
    )
    assert_parity(df, r4_edge_duck, _ORACLES[op], op)


def test_session_exact_gap_merges(spark, r4_edge_dir):
    """The r9 oracle fix, pinned Spark-side: gap == 1800 s is the SAME
    session; 1800 s + 1 µs starts a new one (both polarities, plus the
    NULL-user group)."""
    sess = {}
    for r in _QUERIES["stream_session_window"](spark, r4_edge_dir).collect():
        sess.setdefault(r.user_id, []).append((r.sess_start_sec, r.n_events))
    for u in sess:
        sess[u].sort()
    day = 19_738 * 86_400
    # user 1: [06:00 ×2 events incl the exact-gap 06:30 row], [07:00+1µs ×1]
    assert sess[1] == [(day + 6 * 3600, 2), (day + 7 * 3600, 1)]
    # user 9 by event time: 07:30 .. 08:30 chain (the 08:00->08:30
    # exact-gap hop merges), then the +1 µs hop splits
    assert sess[9] == [(day + 7 * 3600 + 1800, 5), (day + 9 * 3600, 1)]
    # user 2 pre-epoch: one session starting at -900
    assert sess[2] == [(-900, 3)]
    # NULL user: the +1 µs hop splits into two 1-event sessions
    assert sess[None] == [(day + 10 * 3600, 1), (day + 10 * 3600 + 1800, 1)]


def test_watermark_boundary_inclusive(spark, r4_edge_dir):
    """Event exactly max_seen - 600 s is kept; 1 µs older and the
    plainly-late row are dropped; everything else survives."""
    kept = {
        r.event_id
        for r in _QUERIES["stream_watermark_late"](spark, r4_edge_dir).collect()
    }
    assert kept == set(range(1, 15)) - {9, 11}


def test_try_overflow_exact_bigint_boundary(spark, r4_edge_dir):
    """NULL exactly past the BIGINT bound, never before it."""
    rows = {
        r.o_orderkey: (r.mul_53 is None, r.add_max is None, r.div_guard is None)
        for r in _QUERIES["math_try_overflow"](spark, r4_edge_dir).collect()
    }
    assert rows[1023] == (False, False, False)
    assert rows[1024] == (True, False, False)
    assert rows[30000] == (True, False, False)  # add == MAX exactly
    assert rows[30001] == (True, True, False)
    assert rows[7] == (False, False, True)  # 7 % 7 == 0
    assert rows[14] == (False, False, True)
    # sanity: the in-bound multiply is exact
    got = next(
        r.mul_53
        for r in _QUERIES["math_try_overflow"](spark, r4_edge_dir).collect()
        if r.o_orderkey == 1023
    )
    assert got == 1023 * 9007199254740992


def test_sliding_pre_epoch_floor_alignment(spark, r4_edge_dir):
    """Negative-epoch events align to the window start BELOW them:
    epoch -900 / -1µs / 0 occupy exactly the five 1h-by-15min windows
    starting -3600..-900 and 0, with exact decimal sums."""
    win = {
        r.ws_sec: r.win_value
        for r in _QUERIES["stream_sliding_sum"](spark, r4_edge_dir).collect()
        if r.ws_sec <= 0
    }
    v1, v2, v3 = 2.675, 0.000001, -1.115
    assert set(win) == {-3600, -2700, -1800, -900, 0}
    assert win[-3600] == v1 + v2  # [-3600, 0) excludes the epoch-0 row
    assert win[-2700] == win[-1800] == win[-900] == round(v1 + v2 + v3, 6)
    assert win[0] == v3


def test_cast_trunc_toward_zero_and_blank_null(spark, r4_edge_dir):
    """try_cast: non-numeric/empty/whitespace -> NULL, '-3' parses;
    double->BIGINT truncates toward zero on both engines."""
    rows = {
        r.o_orderkey: (r.bad_int, r.price_int)
        for r in _QUERIES["cast_types"](spark, r4_edge_dir).collect()
    }
    assert rows[1] == (None, 99)  # 'F'
    assert rows[2] == (-3, 4567)
    assert rows[7] == (None, -2)  # -2.5 truncates toward zero
    assert rows[1023] == (7, 0)  # 0.005 -> 0
    assert rows[1024] == (None, 0)  # '' -> NULL; -0.5 -> 0, not -1
    assert rows[30000] == (None, 123)  # '   ' whitespace-only -> NULL
    assert rows[30001] == (None, 0)  # 'x'


def test_epoch_s_zone_free_at_dst_gap(spark):
    """Canary for the r9 epoch_s construction: a TIMESTAMP_NTZ wall
    clock INSIDE a DST spring-forward gap (2024-03-10 02:30 does not
    exist in America/New_York local time) must map to the same floor
    epoch second under any session timezone — the calendar-field form
    does; the rejected timestampdiff/cast-to-LTZ form shifted it by
    the gap width (+3600), and F.unix_timestamp floors wrongly
    pre-epoch. Session TZ is flipped via runtime conf and restored."""
    import datetime

    from tpc_di_etl_using_pyspark_spark.plans._util import epoch_s

    df = spark.createDataFrame(
        [
            (datetime.datetime(2024, 3, 10, 2, 30, 0),),
            (datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),),
        ],
        "ts timestamp_ntz",
    )
    expected = [1710037800, -1]
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Australia/Lord_Howe"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = [r[0] for r in df.select(epoch_s("ts")).collect()]
            assert got == expected, (tz, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_iso_week_year_boundaries(spark, r4_edge_dir):
    """weekofyear is ISO on both engines: 2021-01-01 -> 53 (of 2020),
    2024-12-30 -> 1 (of 2025); leap-day rows extract cleanly."""
    rows = {
        r.o_orderkey: (r.y, r.mo, r.dom, r.woy)
        for r in _QUERIES["date_extract"](spark, r4_edge_dir).collect()
    }
    assert rows[7] == (2021, 1, 1, 53)
    assert rows[14] == (2024, 12, 30, 1)
    assert rows[1] == (2024, 2, 29, 9)
    assert rows[30001] == (2000, 2, 29, 9)
