"""Shared helpers for the query registry.

The driver compares Spark results against DuckDB by row-count + schema +
order-insensitive value-hash (exact — __spark_entry__.py docstring), so
every float-bearing aggregate must be bit-identical across engines.
Rules implemented here (SURVEY §7.4 risk register):

- **Exact double sums**: summing doubles is order-dependent (shuffle
  order differs run-to-run and engine-to-engine). ``dsum`` casts to
  DECIMAL(25,6) first → exact decimal addition in any order → cast the
  total back to double. The oracle SQL mirrors with
  ``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)``.
- **Averages** = exact-sum / count (two identical IEEE doubles divided
  → identical result), never engine-native AVG over doubles.
- **Timestamps**: events.ts is ns in parquet; Spark truncates to µs.
  Normalize to epoch seconds (bigint) whenever a ts value is output or
  ordered on, via ``epoch_s`` / ``SQL_EPOCH_S``.
- **Total ordering**: every row_number/rank/limit is ordered by a key
  set that is provably total (unique id appended).
"""

from __future__ import annotations

import os
import shutil
import stat
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_PKG_ZIP: str | None = None
_SHIPPED: set[str] = set()


def _ensure_pkg_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (addPyFile).

    cloudpickle serializes UDF/mapInPandas functions by reference to
    their defining module; workers spawned by a driver whose cwd is NOT
    the repo root cannot import it otherwise (found via driver-sim
    verification — the grading driver controls its own cwd).
    """
    global _PKG_ZIP
    sc = spark.sparkContext
    app = sc.applicationId or "app"
    if app in _SHIPPED:
        return
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        root = os.path.dirname(pkg_dir)
        base = os.path.join(tempfile.gettempdir(), f"tpcdi_engine_pkg_{os.getpid()}")
        _PKG_ZIP = shutil.make_archive(
            base, "zip", root_dir=root, base_dir=os.path.basename(pkg_dir)
        )
    sc.addPyFile(_PKG_ZIP)
    _SHIPPED.add(app)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEC = "decimal(25,6)"
SQL_DEC = "DECIMAL(25,6)"


def dec_norm_sq(ad: Column) -> Column:
    """Squared L2 norm of a double array as DEC: each squared term is
    cast to DEC before it is added, so the fold is exact and
    order-independent on both engines (the dsum rule; a raw double fold
    can round apart at the 6th decimal)."""
    return F.aggregate(
        F.zip_with(ad, ad, lambda x, y: x * y),
        F.lit(0).cast(DEC),
        lambda s, x: (s + x.cast(DEC)).cast(DEC),
    )


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Parquet schemas inferred so far in this process, by
# (path, inode, mtime_ns, size[, directory entries], nanosAsLong value).
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str, nanos_as_long: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:  # not a local path: Spark resolves it
        return spark.read.parquet(path)
    key = (path, st.st_ino, st.st_mtime_ns, st.st_size)
    if stat.S_ISDIR(st.st_mode):
        # a Spark-written table: each write names its part files anew
        key += tuple(sorted(os.listdir(path)))
    key += (nanos_as_long,)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver test table (TESTDATA.md).

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark 4.x refuses
    by default (PARQUET_TYPE_ILLEGAL). Read it as nanos-since-epoch via
    the legacy conf and convert to a µs TimestampType — the same
    truncation DuckDB applies reading the file as TIMESTAMP.

    Each file's schema is inferred once per process. Spark's inference
    reads the parquet footer in a one-task job; a read given the schema
    runs none (sf0.01 orders on 4 cores: median 41 ms against 7 ms).
    The memo's key is the path, the file's inode, mtime in ns and size
    (for a directory, also its entry names) and the nanosAsLong value
    the read runs under, so a rewritten file is inferred again. A path
    ``os.stat`` cannot see (not a local file) is inferred on every read.
    """
    # The driver calls queries with ITS session — pin the confs our
    # semantics depend on (timestamp→date casts are session-TZ
    # dependent; DuckDB treats the same parquet instants as naive/UTC),
    # and make the package importable on its executors.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ensure_pkg_on_executors(spark)
    if name == "events":
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = _read_parquet(spark, f"{sf_dir}/events.parquet", "true")
        # raw fixture: ts is TIMESTAMP(NANOS) → read as long ns (the
        # legacy conf) and truncate to µs. Engine-written copies are
        # already µs TimestampType — pass through.
        if dict(df.dtypes)["ts"] == "bigint":
            # integer division (div), not `/`: float division routes the
            # ~1e18 ns value through a double, which quantizes at 256 ns
            # and can land one µs below DuckDB's exact truncation
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    nanos_as_long = spark.conf.get(_NANOS_AS_LONG, "false")
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet", nanos_as_long)


# Logical-plan nodes that are NARROW (no exchange, no job on .rdd with
# AQE) and preserve the scan's partitioning 1:1. Anything else makes
# spread_scan a no-op — see the STATIC-gate note in its docstring.
_NARROW_NODES = frozenset(
    {"Project", "Filter", "Generate", "Relation", "LogicalRelation"}
)


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Re-spread an under-parallelized scan before heavy map work
    ('input skew — one huge unsplittable file ... otherwise
    repartition immediately after the read').

    The driver fixtures are single-row-group parquet files, and a row
    group is the atomic unit of Spark's vectorized reader — every scan
    therefore runs as ONE task no matter how the file is split, so an
    op whose pre-shuffle stage does real per-row work (wide decimal
    partial aggregates, broadcast-join chains) serializes on one core.
    When the scan's actual partition count is below half the session's
    default parallelism, hash-repartition on the given deterministic
    high-cardinality key(s) (never rand — SPARK-38388) so the map work
    runs wide; measured 1.34 → 0.64 s on agg_groupby_basic and 1.21 →
    0.66 s on join_broadcast at sf0.1.

    Scale posture: the gate derives from the INPUT LAYOUT, not a
    constant — a production table scans as thousands of splits, the
    gate is false, and no exchange is added. Only apply where the map
    stage is measured heavy; for ops whose first operation is already
    a keyed shuffle the exchange would be pure overhead.

    STATIC gate only: the ``df.rdd.getNumPartitions()`` probe is only
    read for plans that are provably narrow-over-a-scan
    (Project/Filter/Generate over a file relation). For any derived
    input (aggregates, joins, repartitions — e.g. the post-dedup corpus
    pipeline_pretrain_e2e hands to minhash_near_dups) the function is
    a NO-OP: with AQE enabled, ``df.rdd`` on a plan containing
    exchanges MATERIALIZES every upstream shuffle stage as real jobs at
    DataFrame-construction time, and the resulting blocks are not
    reused by the real query — an ungated probe silently doubled the
    dedup subtree's execution. A narrow plan has no exchanges, so its
    ``.rdd`` conversion plans splits on the driver without running
    anything. Engine errors from either probe propagate.
    """
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    for line in tree.splitlines():
        head = line.lstrip(" :+-*(0123456789)")
        if not head:
            continue
        node = head.split(None, 1)[0].rstrip(",")
        if node not in _NARROW_NODES:
            return df
    scan_parts = df.rdd.getNumPartitions()
    target = df.sparkSession.sparkContext.defaultParallelism
    if scan_parts * 2 >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def dsum(col, alias: str) -> Column:
    """Order-independent exact sum of a double column, returned as double.

    Cross-engine-exact bound: the DECIMAL(25,6) sum is exact in both
    engines at any magnitude, but the final DECIMAL→DOUBLE conversion
    is only bit-identical while |sum| < 2^53 micro-units (~9.0e9) —
    beyond that the decimal no longer fits a double exactly and the
    engines' conversion rounding can differ by 1 ulp (observed at
    |values| ~1e15 on a hostile fixture; the shipped fixtures
    and any realistic money domain sit far inside the bound).
    """
    c = col if isinstance(col, Column) else F.col(col)
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE) AS {alias}"


def davg(col, alias: str) -> Column:
    """Exact-sum / count average (deterministic double)."""
    c = col if isinstance(col, Column) else F.col(col)
    return (F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(alias)


def sql_davg(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE) / COUNT(*) AS {alias}"


def dround(col, n: int) -> Column:
    """Cross-engine-deterministic round of a double.

    Spark's round(double, n) rounds the double's shortest decimal repr
    (BigDecimal.valueOf), DuckDB rounds the binary value — they disagree
    on .xx5-ending products. Routing through DECIMAL(25,6) first makes
    both engines round the same 6-decimal value HALF_UP.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return F.round(c.cast(DEC), n).cast("double")


def sql_dround(expr: str, n: int) -> str:
    return f"CAST(ROUND(CAST({expr} AS {SQL_DEC}), {n}) AS DOUBLE)"


def pz(col) -> Column:
    """+0.0-canonicalize a double: −0.0 → +0.0, everything else (incl.
    NULL and NaN) unchanged — IEEE −0.0 + 0.0 = +0.0.

    Engine-INTERNAL percentile interpolation is the one place the
    repo's identical-expression-tree discipline can't reach: Spark's
    `percentile` emits −0.0 where DuckDB's `quantile_cont` emits +0.0
    when the interpolation lands between a ±pair (measured on a
    hostile fixture: p50 of (−0.01, −0.0, 0.0, 0.01), grouped AND
    rolling-window forms). The two values are equal everywhere except
    the driver's float.hex() canonicalizer, which is exactly where
    certification happens. Apply to every percentile-derived OUTPUT
    column and mirror `+ 0.0` in the oracle SQL."""
    c = col if isinstance(col, Column) else F.col(col)
    return c + F.lit(0.0)


def epoch_s(col) -> Column:
    """Timestamp → FLOOR epoch seconds (bigint), identical across ns/µs
    storage and session timezones.

    NOT ``F.unix_timestamp``: that truncates toward zero, so a
    pre-epoch sub-second instant (1969-12-31 23:59:59.999999) maps to
    0 while every oracle's ``FLOOR(EPOCH(ts))`` — and Spark's own
    ``F.window`` alignment — map it to second −1 (measured;
    pinned in tests/test_r4_window_edges.py).

    Built from CALENDAR FIELDS (datediff days + hour/minute/second),
    never an LTZ hop: a ``timestampdiff``/``cast("timestamp")`` form
    resolves the session zone into the expression, and a wall-clock
    value inside a DST spring-forward GAP (2024-03-10 02:30 under
    America/New_York) shifts by the gap width — measured +3600 s vs
    the UTC session, where DuckDB's ``EPOCH`` on NTZ is pure calendar
    (canary-pinned in tests/test_r4_window_edges.py). Field
    extraction on TIMESTAMP_NTZ reads the stored wall clock directly,
    so the result is zone-free by construction, and the day/field
    split floors exactly for any sign: −1 µs → day −1 + 86 399 s
    = −1, never 0."""
    c = col if isinstance(col, Column) else F.col(col)
    nc = c.cast("timestamp_ntz")
    days = F.datediff(nc.cast("date"), F.lit("1970-01-01").cast("date"))
    return (
        days.cast("long") * 86400
        + F.hour(nc).cast("long") * 3600
        + F.minute(nc).cast("long") * 60
        + F.second(nc).cast("long")
    )


# Exact integer epoch-second floor for the DuckDB oracles: EPOCH()
# returns seconds as DOUBLE, whose ulp at 10-digit epochs is ~2 µs, so
# a .999999 fraction rounds UP and CAST(FLOOR(EPOCH(ts)) AS BIGINT)
# lands +1 s (canonical divergent instant: TIMESTAMP '2287-01-05
# 12:00:00.999999', pinned in tests/test_r13_prep.py). The floor-mod
# form below is the exact integer floor over epoch_us — plain
# `// 1000000` would truncate toward zero and break pre-epoch instants.
# Spark's integer calendar-field path (epoch_s) was always correct;
# only oracles use this.
def sql_epoch_floor_s(expr: str) -> str:
    e = f"epoch_us({expr})"
    return f"({e} - (({e} % 1000000 + 1000000) % 1000000)) // 1000000"
