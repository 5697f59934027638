"""Round-5 ADVICE hardening: dual-engine literal probes for the four
latent edges the round-4 advisor flagged. Each test drives BOTH
engines (Spark + DuckDB) on adversarial literals rather than the
friendly fixture, so the edge stays pinned if either engine or the
op's template changes.

1. str_url_parse — \\A..\\z gate anchoring (Java's $ matches before a
   trailing newline, RE2's does not) and empty-query NULL
   canonicalization (scalars.py).
2. json_variant_extract — the oracle's json_type -> variant-grammar
   mapping on every in-contract payload shape, plus the documented
   out-of-contract divergence canaries (scalars.py).
3. _CSV_LOSSLESS — the \\N null-sentinel collision fixed by
   MySQL-convention backslash doubling (core_scans.py).
4. tpcdi _batch_date_shift — empty-orders guard (tpcdi_ops.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.plans.core_scans import (
    _bs_escape,
    _bs_unescape,
    _CSV_LOSSLESS,
)
from tpc_di_etl_using_pyspark_spark.plans.scalars import _URL_VALID_RE
from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import _batch_date_shift

# ---------------------------------------------------------------- URLs

URL_CASES = [
    "https://ex1.com",
    "https://ex1.com\n",  # Java-only $ match without \z anchoring
    "https://ex1.com/seg/3",
    "https://ex1.com/seg/3?",  # empty query -> NULL on both sides
    "https://ex1.com/seg/3?q=x",
    "https://ex1.com?",  # bare host + trailing ? (host must drop ?)
    "http://a.b",
    "https://ex1.com/p\n",
    "https://ex1.com?q=",
    "bad url",
    "https://ex1.com/a?q=x&y=%20",
]


def test_url_parse_edges_match_oracle(spark, duck):
    df = spark.createDataFrame([(u,) for u in URL_CASES], "url string")
    ok = F.col("url").rlike(_URL_VALID_RE)
    got = {
        r["url"]: (r["host"], r["path"], r["query"])
        for r in df.select(
            "url",
            F.when(ok, F.try_parse_url("url", F.lit("HOST"))).alias("host"),
            F.when(ok, F.try_parse_url("url", F.lit("PATH"))).alias("path"),
            F.when(
                ok, F.nullif(F.try_parse_url("url", F.lit("QUERY")), F.lit(""))
            ).alias("query"),
        ).collect()
    }
    for u in URL_CASES:
        want = duck.execute(
            """
            SELECT CASE WHEN regexp_matches(?, ?)
                     THEN regexp_extract(?, '^[a-z]+://([^/?]+)', 1) END,
                   CASE WHEN regexp_matches(?, ?)
                     THEN regexp_extract(?, '^[a-z]+://[^/?]+(/[^?]*)', 1) END,
                   CASE WHEN regexp_matches(?, ?)
                     THEN NULLIF(regexp_extract(?, '\\?(.*)$', 1), '') END
            """,
            [u, _URL_VALID_RE, u] * 3,
        ).fetchone()
        assert got[u] == tuple(want), f"url edge diverged: {u!r}"


# ------------------------------------------------------------- variant

# In-contract payloads (flat scalars: string / boolean / JSON null /
# int64-range integer / exponent-form double) — the oracle's mapping
# must reproduce schema_of_variant exactly.
VARIANT_IN_CONTRACT = [
    '{"k": 1}',
    '{"k": -3}',
    '{"k": 2147483647}',
    '{"k": 2147483648}',
    '{"k": 9223372036854775807}',
    '{"k": "s"}',
    '{"k": true}',
    '{"k": false}',
    '{"k": null}',
    '{"k": 1e2}',
    '{"k": 1.5e3}',
    '{"k": 1e50}',
    "{}",
    '{"b": true, "a": 1, "c": "x"}',
]

_ORACLE_VSCHEMA = """
    SELECT 'OBJECT<' || COALESCE((
             SELECT string_agg(jk || ': ' ||
               CASE COALESCE(json_type(j, '$.' || jk), 'NULL')
                 WHEN 'UBIGINT' THEN 'BIGINT'
                 WHEN 'BIGINT' THEN 'BIGINT'
                 WHEN 'VARCHAR' THEN 'STRING'
                 WHEN 'DOUBLE' THEN 'DOUBLE'
                 WHEN 'BOOLEAN' THEN 'BOOLEAN'
                 WHEN 'NULL' THEN 'VOID'
                 ELSE json_type(j, '$.' || jk) END,
               ', ' ORDER BY jk)
             FROM unnest(json_keys(j)) AS jt(jk)), '') || '>'
    FROM (SELECT ?::VARCHAR AS j)
"""


def _spark_vschema(spark, payloads):
    df = spark.createDataFrame([(p,) for p in payloads], "props string")
    return {
        r["props"]: r["s"]
        for r in df.select(
            "props", F.schema_of_variant(F.parse_json("props")).alias("s")
        ).collect()
    }


def test_variant_schema_oracle_in_contract(spark, duck):
    got = _spark_vschema(spark, VARIANT_IN_CONTRACT)
    for p in VARIANT_IN_CONTRACT:
        want = duck.execute(_ORACLE_VSCHEMA, [p]).fetchone()[0]
        assert got[p] == want, f"in-contract variant payload diverged: {p}"


def test_variant_schema_out_of_contract_canaries(spark, duck):
    """The DOCUMENTED divergences (scalars.py oracle contract): plain
    decimal-point literals, beyond-int64 integers, nested values. If
    an engine upgrade ever closes one, this canary flips and the
    contract comment should be retired."""
    cases = {
        '{"k": 1.5}': "OBJECT<k: DECIMAL(2,1)>",  # duck: DOUBLE
        '{"k": 18446744073709551615}': "OBJECT<k: DECIMAL(20,0)>",
        '{"k": {"a": 1}}': "OBJECT<k: OBJECT<a: BIGINT>>",  # duck: OBJECT
        '{"k": [1,2]}': "OBJECT<k: ARRAY<BIGINT>>",  # duck: ARRAY
    }
    got = _spark_vschema(spark, list(cases))
    for p, spark_want in cases.items():
        assert got[p] == spark_want, f"Spark variant grammar moved: {p}"
        oracle = duck.execute(_ORACLE_VSCHEMA, [p]).fetchone()[0]
        assert oracle != spark_want, (
            f"out-of-contract payload {p} now matches — narrow the "
            "documented contract in scalars.py json_variant_extract"
        )


# ----------------------------------------------------------------- CSV

CSV_VALUES = [
    "\\N",  # the sentinel collision itself
    "\\\\N",
    "\\",
    None,
    "",
    "  pad  ",
    "%_\\percent",
    'a"b\\c',
    "comma,sep;semi",
    "line\ttab",
    "\\n\\t\\N\\\\",
    "null",
]


def test_csv_lossless_backslash_sentinel_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(CSV_VALUES)], "id int, s string"
    )
    path = str(tmp_path / "csv_bs")
    _bs_escape(df).write.mode("overwrite").options(**_CSV_LOSSLESS).csv(path)
    back = _bs_unescape(
        spark.read.options(**_CSV_LOSSLESS).csv(path, schema="id int, s string")
    )
    got = {r["id"]: r["s"] for r in back.collect()}
    assert got == dict(enumerate(CSV_VALUES))


def test_csv_sentinel_collision_without_escape(spark, tmp_path):
    """Canary for WHY _bs_escape exists: without it the literal string
    \\N round-trips to NULL (Spark writes identical bytes for both)."""
    df = spark.createDataFrame([(1, "\\N")], "id int, s string")
    path = str(tmp_path / "csv_raw")
    df.write.mode("overwrite").options(**_CSV_LOSSLESS).csv(path)
    back = spark.read.options(**_CSV_LOSSLESS).csv(path, schema="id int, s string")
    assert back.collect()[0]["s"] is None


# ---------------------------------------------------------------- SCD2


def test_batch_date_shift_empty_orders(spark):
    empty = spark.createDataFrame([], "o_custkey long, eff date")
    assert _batch_date_shift(empty) == 1


def test_batch_date_shift_span(spark):
    import datetime

    v = spark.createDataFrame(
        [
            (1, datetime.date(2020, 1, 1)),
            (2, datetime.date(2020, 1, 11)),
        ],
        "o_custkey long, eff date",
    )
    assert _batch_date_shift(v) == 11


# ------------------------------------------- round-6 ADVICE canaries
# (round-5 advisor items: pin the documented out-of-contract engine
# divergences and the multichar-delim NULL serialization fix)


def test_collate_ci_icu_vs_lower_fold_divergence_canary(spark, duck):
    """str_collate_ci's oracle bridge (Spark UNICODE_CI ≈ DuckDB
    lower()-fold) is exact ONLY for ASCII. Measured on this Spark/ICU
    build: UNICODE_CI equates 'σ'/'ς' (final sigma) and 'ﬁ'/'fi'
    (ligature expansion) where lower() does not — those pairs are out
    of contract. ('ß'/'SS' does NOT diverge here: both engines keep
    them distinct.) Pin the divergence so a fixture-pool change that
    introduces such pairs fails HERE with a named cause, not as a
    parity-hash mystery."""
    pairs = [("σ", "ς"), ("ﬁ", "fi")]
    for a, b in pairs:
        df = spark.createDataFrame([(a,), (b,)], "s string")
        n_ci = df.select(
            F.count_distinct(F.collate(F.col("s"), "UNICODE_CI")).alias("n")
        ).collect()[0]["n"]
        assert n_ci == 1, f"ICU should equate {a!r}/{b!r}"
        n_lower = duck.execute(
            "SELECT COUNT(DISTINCT lower(s)) FROM (VALUES (?), (?)) t(s)",
            [a, b],
        ).fetchone()[0]
        assert n_lower == 2, f"lower() fold should NOT equate {a!r}/{b!r}"
    # and the bridge IS exact for ASCII case flips
    df = spark.createDataFrame([("Alpha",), ("ALPHA",)], "s string")
    assert (
        df.select(
            F.count_distinct(F.collate(F.col("s"), "UNICODE_CI")).alias("n")
        ).collect()[0]["n"]
        == 1
    )


def test_levenshtein_codepoint_semantics_nonascii(spark, duck):
    """str_levenshtein_link ASCII-gates linkage because the engines'
    Levenshtein units differ; this pins Spark's REAL (codepoint-based,
    unicode-capable) semantics on non-ASCII so the operator behavior
    stays asserted even though the oracle gate excludes it."""
    df = spark.createDataFrame([("a🎵", "ab")], "x string, y string")
    d_spark = df.select(F.levenshtein("x", "y").alias("d")).collect()[0]["d"]
    assert d_spark == 1  # one codepoint substitution
    d_duck = duck.execute("SELECT levenshtein('a🎵', 'ab')").fetchone()[0]
    assert d_duck > 2  # byte-based: beyond the ≤2 link threshold


def test_multichar_delim_null_field_roundtrip(spark, tmp_path):
    """scan_csv_multichar_delim serializes NULL fields as the \\N
    sentinel (concat_ws silently DROPS null operands — an unguarded
    NULL would shift every following field left on read). A NULL in
    the middle of the row must round-trip without misaligning the
    columns, alongside a literal '\\N' string kept distinct by
    backslash doubling."""
    df = spark.createDataFrame(
        [(1, None, "z"), (2, "mid", "q"), (3, "\\N", "w")],
        "id int, s string, tail string",
    )
    esc = _bs_escape(df)
    line = F.concat_ws(
        "||",
        *[
            F.coalesce(F.col(f.name).cast("string"), F.lit("\\N"))
            for f in esc.schema.fields
        ],
    )
    path = str(tmp_path / "dpipe_null")
    esc.select(line.alias("value")).write.mode("overwrite").text(path)
    back = _bs_unescape(
        spark.read.options(**_CSV_LOSSLESS).csv(
            path, sep="||", header=False, schema="id int, s string, tail string"
        )
    )
    got = {r["id"]: (r["s"], r["tail"]) for r in back.collect()}
    assert got == {1: (None, "z"), 2: ("mid", "q"), 3: ("\\N", "w")}


# ------------------------------------------- round-7 ADVICE closure
# (round-6 advisor item: vec_quantize_int8's flat q8 string must not
# silently DROP NULL elements — both Spark array_join and DuckDB
# array_to_string skip them unless told otherwise, so the joined code
# vector would carry fewer components than `dim` reports)


def test_vec_quantize_int8_null_element_lossless(spark, tmp_path):
    """Run the REAL registered op + oracle pair over a hostile
    embeddings table (NULL element mid-vector, all-NULL embedding,
    empty array) and assert (a) both engines agree cell-for-cell and
    (b) the q8 component count always equals dim — the lossless
    contract the round-6 advisor flagged as silently violated."""
    import duckdb as _duckdb

    from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

    df = spark.createDataFrame(
        [
            (1, [0.5, None, -1.0], 0),
            (2, None, 1),
            (3, [], 2),
            (4, [0.25], 3),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path / "nullvec")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    got = {
        r["vec_id"]: (r["q8"], r["dim"])
        for r in all_queries()["vec_quantize_int8"](spark, d).collect()
    }
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    want = {
        vid: (q8, dim)
        for vid, q8, dim in con.sql(all_oracles()["vec_quantize_int8"]).fetchall()
    }
    assert got == want
    # lossless: component count == dim whenever the embedding is non-NULL
    assert got[1] == ("64,\\N,-127", 3)
    assert got[2] == (None, None)
    assert got[3] == ("", 0)
    assert got[4] == ("32", 1)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
