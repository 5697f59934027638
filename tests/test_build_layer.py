"""The build layer: what it costs to construct a plan, before any of it runs.

A PySpark ``F.*`` function or ``Column`` method makes py4j round trips
to the JVM. PySpark's call-site capture adds about ten to each
(``F.col("id") + 1`` makes 24 with it, 4 without); ``get_spark`` turns
it off (``spark.python.sql.dataFrameDebugging.enabled=false``).
Helpers that generate dozens of columns write them as SQL text, one
round trip per expression. These tests hold the round-trip budgets of
those helpers and of a whole warehouse-load build, check that the SQL
text builds the same optimized plan as the ``F.*`` form it replaced,
and check what a runtime error still reports with the capture off.

``plans._util.t()`` infers each parquet file's schema once per process;
its memo is checked here: a repeated read runs no Spark job, and a
rewritten file is inferred again.

Connected components runs Spark jobs while its plan is built (one
eager checkpoint per superstep); its job budget and its ``max_iter``
contract are checked here too.
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.llm.components import connected_components
from tpc_di_etl_using_pyspark_spark.llm.minhash import (
    band_keys,
    explode_bands,
    minhash_signature,
    shingles,
)
from tpc_di_etl_using_pyspark_spark.llm.simhash import fingerprint_slices
from tpc_di_etl_using_pyspark_spark.plans._util import t
from tpc_di_etl_using_pyspark_spark.plans.llm import _RP_BAND_KEYS
from tpc_di_etl_using_pyspark_spark.plans.registry import all_queries
from tpc_di_etl_using_pyspark_spark.schemas import FINWIRE_CMP_LAYOUT
from tpc_di_etl_using_pyspark_spark.sources.fixedwidth import parse_fixed_width
from tpc_di_etl_using_pyspark_spark.tpcdi.pipeline import report, sql_str

# the F.* forms took 2,541 (signature + band keys) and 264 (CMP layout)
MAX_MINHASH_ROUND_TRIPS = 200
MAX_FIXED_WIDTH_ROUND_TRIPS = 40
# 19 with a label-initialisation checkpoint and a count job per superstep
MAX_CLUSTER_CC_JOBS = 14
# a warm build of tpcdi_batch_e2e at sf0.01 takes 1,015; 1,242 with its
# audit report rows built by F.* calls, 3,198 with PySpark's call-site
# capture on and a schema inference per read
MAX_BATCH_E2E_ROUND_TRIPS = 1_200


@contextmanager
def _round_trips(spark):
    """Count py4j round trips (gateway client commands) inside the block.

    Only this thread's: py4j's finalizer thread sends the release
    commands of freed JVM handles whenever Python's GC gets to them,
    which would add earlier work's releases to the count.
    """
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    n = [0]

    def counted(*args, **kwargs):
        if threading.get_ident() == caller:
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield n
    finally:
        client.send_command = send


@contextmanager
def _jobs(spark, name):
    """Count the Spark jobs started inside the block (by job group)."""
    sc = spark.sparkContext
    group = f"build-layer-{name}"
    n = [0]
    sc.setJobGroup(group, group)
    try:
        yield n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        n[0] = len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return re.sub(r"#\d+", "", df._jdf.queryExecution().optimizedPlan().toString())


def _docs(spark):
    # a range, not a local relation: the optimizer would fold a local
    # relation and its projections into literal rows
    return spark.range(6).selectExpr(
        "id AS doc_id", "concat('w', id % 3, ' a b c d e') AS text"
    )


def _lines(spark):
    return spark.range(3).selectExpr("repeat(cast(id AS string), 120) AS value")


def _signature_f(sh, id_col, num_hashes):
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(s))).alias(f"mh{s}")
            for s in range(num_hashes)
        ]
    )


def _band_keys_f(sig, id_col, num_hashes, bands):
    rows = num_hashes // bands
    pairs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(
                "band_key"
            ),
        )
        for b in range(bands)
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*pairs)).alias("bk")).select(
        id_col,
        F.col("bk.band_idx").alias("band_idx"),
        F.col("bk.band_key").alias("band_key"),
    )


def _slices_f(fp, id_col, chunk_bits):
    mask = (1 << chunk_bits) - 1
    slices = [
        F.struct(
            F.lit(i).alias("chunk_idx"),
            F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
            .bitwiseAND(F.lit(mask))
            .alias("chunk"),
        )
        for i in range(60 // chunk_bits)
    ]
    return fp.select(
        F.col(id_col), "simhash", F.explode(F.array(*slices)).alias("bk")
    ).select(
        id_col,
        "simhash",
        F.col("bk.chunk_idx").alias("chunk_idx"),
        F.col("bk.chunk").alias("chunk"),
    )


def _rp_bands_f(dots):
    def key(lo):
        return F.concat(
            *[
                F.when(F.col(f"dp{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
                for p in range(lo, lo + 8)
            ]
        )

    bands = [
        F.struct(F.lit(b).alias("band_idx"), key(8 * b).alias("band_key"))
        for b in range(2)
    ]
    return dots.select("vec_id", F.explode(F.array(*bands)).alias("bk")).select(
        "vec_id",
        F.col("bk.band_idx").alias("band_idx"),
        F.col("bk.band_key").alias("band_key"),
    )


def _fixed_width_f(lines, layout, value_col="value"):
    return lines.select(
        *[
            F.rtrim(F.substring(F.col(value_col), off + 1, length)).alias(name)
            for name, off, length in layout
        ]
    )


def _report_f(stats, rows):
    return stats.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(2).alias("batch_id"),
                        F.lit(src).alias("source"),
                        F.col(n).cast("string").alias("text"),
                        F.when(F.col(n) == F.col("_e"), "true")
                        .otherwise("false")
                        .alias("ok"),
                    )
                    for src, n in rows
                ]
            )
        )
    )


def test_minhash_round_trip_budget(spark):
    sh = shingles(_docs(spark), "doc_id", "text", 3)
    with _round_trips(spark) as n:
        band_keys(minhash_signature(sh, "doc_id", 32), "doc_id", 32, 8)
    assert n[0] <= MAX_MINHASH_ROUND_TRIPS, f"{n[0]} py4j round trips"


def test_fixed_width_round_trip_budget(spark):
    lines = _lines(spark)
    with _round_trips(spark) as n:
        parse_fixed_width(lines, FINWIRE_CMP_LAYOUT)
    assert n[0] <= MAX_FIXED_WIDTH_ROUND_TRIPS, f"{n[0]} py4j round trips"


def test_minhash_sql_text_plans_like_functions(spark):
    sh = shingles(_docs(spark), "doc_id", "text", 3)
    sig = minhash_signature(sh, "doc_id", 32)
    assert _plan(sig) == _plan(_signature_f(sh, "doc_id", 32))
    assert _plan(band_keys(sig, "doc_id", 32, 8)) == _plan(
        _band_keys_f(sig, "doc_id", 32, 8)
    )


def test_simhash_slices_sql_text_plans_like_functions(spark):
    fp = spark.range(6).selectExpr("id AS doc_id", "id * 1234567890123 AS simhash")
    assert _plan(fingerprint_slices(fp, "doc_id", 15)) == _plan(
        _slices_f(fp, "doc_id", 15)
    )


def test_rp_band_keys_sql_text_plans_like_functions(spark):
    # sim_rp_lsh_cosine's per-plane dot products dp0..dp15 (bigint)
    dots = spark.range(6).selectExpr(
        "id AS vec_id", *[f"id - {p} AS dp{p}" for p in range(16)]
    )
    assert _plan(
        explode_bands(dots, ["vec_id"], "band_idx", "band_key", _RP_BAND_KEYS)
    ) == _plan(_rp_bands_f(dots))


def test_fixed_width_sql_text_plans_like_functions(spark):
    lines = _lines(spark)
    assert _plan(parse_fixed_width(lines, FINWIRE_CMP_LAYOUT)) == _plan(
        _fixed_width_f(lines, FINWIRE_CMP_LAYOUT)
    )


def test_report_sql_text_plans_like_functions(spark):
    stats = spark.range(6).agg(
        F.count(F.lit(1)).alias("_n"), F.sum("id").alias("_s"), F.max("id").alias("_e")
    )
    got = report(
        stats,
        ["batch_id", "source", "text", "ok"],
        [
            ("2", f"'{src}'", f"CAST({n} AS STRING)", f"CASE WHEN {n} = _e THEN 'true' ELSE 'false' END")
            for src, n in [("count", "_n"), ("sum", "_s")]
        ],
    )
    assert _plan(got) == _plan(_report_f(stats, [("count", "_n"), ("sum", "_s")]))
    assert got.collect() == [(2, "count", "6", "false"), (2, "sum", "15", "false")]


def test_report_quotes_string_literals(spark):
    name = "it's a \\ name"
    got = report(spark.range(1), ["s"], [(sql_str(name),)])
    assert got.collect()[0].s == name


def test_fixed_width_quotes_parameter_identifiers(spark):
    lines = _lines(spark).withColumnRenamed("value", "raw line")
    got = parse_fixed_width(lines, [("a b", 0, 2), ("c.d", 2, 3)], "raw line")
    assert got.columns == ["a b", "c.d"]
    assert got.collect()[0] == ("00", "000")


def _path(spark):
    return spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")


def test_connected_components_path_needs_one_superstep_per_hop(spark):
    # labels settle after 3 supersteps; the 4th observes no change
    with pytest.raises(RuntimeError, match="did not converge in 3 supersteps"):
        connected_components(_path(spark), max_iter=3)
    got = connected_components(_path(spark), max_iter=4).collect()
    assert sorted((r.node, r.component) for r in got) == [
        (1, 1),
        (2, 1),
        (3, 1),
        (4, 1),
    ]


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).collect() == []


def test_cluster_cc_job_budget(spark, sf_dir, tmp_path):
    spark.catalog.clearCache()
    with _jobs(spark, tmp_path.name) as jobs:
        df = all_queries()["dedup_cluster_cc"](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
    assert jobs[0] <= MAX_CLUSTER_CC_JOBS, f"dedup_cluster_cc ran {jobs[0]} jobs"


def test_parquet_schema_inferred_once(spark, tmp_path):
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), tmp_path / "tbl.parquet")
    with _jobs(spark, f"{tmp_path.name}-first") as first:
        schema = t(spark, str(tmp_path), "tbl").schema
    with _jobs(spark, f"{tmp_path.name}-again") as again:
        df = t(spark, str(tmp_path), "tbl")
    assert first[0] >= 1  # Spark's inference job
    assert again[0] == 0, f"the second read ran {again[0]} jobs"
    assert df.schema == schema


def test_parquet_schema_follows_a_rewrite(spark, tmp_path):
    path = tmp_path / "tbl.parquet"
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert t(spark, str(tmp_path), "tbl").dtypes == [("k", "bigint")]
    pq.write_table(pa.table({"k": pa.array(["a", "bc", "def"])}), path)
    df = t(spark, str(tmp_path), "tbl")
    assert df.dtypes == [("k", "string")]
    assert sorted(r.k for r in df.collect()) == ["a", "bc", "def"]


def test_batch_e2e_round_trip_budget(spark, sf_dir):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    op = all_queries()["tpcdi_batch_e2e"]
    op(spark, sf_dir)  # warm: the schema memo and the JVM's caches
    with _round_trips(spark) as n:
        op(spark, sf_dir)
    assert n[0] <= MAX_BATCH_E2E_ROUND_TRIPS, f"{n[0]} py4j round trips"


def test_divide_by_zero_keeps_its_error_condition(spark):
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ArithmeticException) as err:
            spark.range(2).select(F.lit(1) / F.col("id")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert err.value.getSqlState() == "22012"
    assert [c.fragment() for c in err.value.getQueryContext()] == ["divide"]
