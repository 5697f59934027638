"""SURVEY §2.J UDF/UDAF/UDTF surface.

Engine policy is expression-first (§2.H is UDF-free); these five ops
exist to prove the full Python-interop surface with the right
patterns: plain scalar UDF (reference parity), Arrow-vectorized pandas
UDFs (scalar + grouped-agg), and grouped-map / partition-map pandas
transforms. Oracles reimplement each rule in SQL.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..llm.similarity import query_vector
from ._util import dround, sql_dround, t
from .registry import op


@op(
    "udf_python_scalar",
    """SELECT c_custkey,
              concat_ws('+',
                CASE WHEN c_acctbal > 7000 THEN 'HighValue' END,
                CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'Spender' END,
                CASE WHEN c_custkey % 7 = 0 THEN 'Boomer' END) AS nameplate
       FROM customer""",
)
def udf_python_scalar(spark: SparkSession, d: str) -> DataFrame:
    """Marketing-nameplate rule as a row-at-a-time Python UDF [SPEC:
    Prospect MarketingNameplate — '+'-joined condition tags]. Kept as
    the slow-path demonstration; everything else avoids this pattern.
    """

    def nameplate(custkey: int, acctbal: float, segment: str) -> str:
        tags = []
        if acctbal is not None and acctbal > 7000:
            tags.append("HighValue")
        if segment == "AUTOMOBILE":
            tags.append("Spender")
        if custkey % 7 == 0:
            tags.append("Boomer")
        return "+".join(tags)

    fn = F.udf(nameplate, StringType())
    c = t(spark, d, "customer")
    return c.select(
        "c_custkey", fn("c_custkey", "c_acctbal", "c_mktsegment").alias("nameplate")
    )


_QCOS_SQL = (
    "list_dot_product(embedding::DOUBLE[], q) / "
    "(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q, q)))"
)


@op(
    "udf_pandas_scalar",
    f"""WITH qv AS (SELECT list_transform(generate_series(0, 63),
                         d -> (((d * 37) % 19) - 9) / 9.0) AS q)
        SELECT vec_id,
               CAST(ROUND(CAST({_QCOS_SQL} AS DECIMAL(25,6)), 6) AS DOUBLE) AS cos_sim
        FROM embeddings, qv""",
)
def udf_pandas_scalar(spark: SparkSession, d: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF: cosine vs a fixed query
    vector, computed in numpy per Arrow batch (the fast Python path)."""
    q = np.array(query_vector(64), dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    @F.pandas_udf(DoubleType())
    def cos(col: pd.Series) -> pd.Series:
        m = np.stack(col.map(lambda v: np.asarray(v, dtype=np.float64)))
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series(dots / (norms * qn))

    e = t(spark, d, "embeddings")
    return e.select("vec_id", dround(cos("embedding"), 6).alias("cos_sim"))


@op(
    "udaf_pandas_grouped",
    f"""WITH x AS (
          SELECT label, i AS dim_idx, CAST(embedding[i] AS DOUBLE) AS comp
          FROM (SELECT label, embedding,
                       unnest(generate_series(1, len(embedding))) AS i
                FROM embeddings))
        SELECT label, CAST(dim_idx - 1 AS INTEGER) AS dim_idx,
               {sql_dround('AVG(comp)', 6)} AS centroid
        FROM x GROUP BY label, dim_idx""",
)
def udaf_pandas_grouped(spark: SparkSession, d: str) -> DataFrame:
    """Grouped-agg pandas UDF: per-label embedding centroid (mean
    vector), exploded to (label, dim_idx, centroid) for the oracle."""

    @F.pandas_udf(ArrayType(DoubleType()), F.PandasUDFType.GROUPED_AGG)
    def centroid(col: pd.Series) -> list:
        m = np.stack(col.map(lambda v: np.asarray(v, dtype=np.float64)))
        return m.mean(axis=0).tolist()

    e = t(spark, d, "embeddings")
    cent = e.groupBy("label").agg(centroid("embedding").alias("c"))
    return cent.select(
        "label", F.posexplode("c").alias("dim_idx", "comp")
    ).select("label", F.col("dim_idx").cast("int"), dround("comp", 6).alias("centroid"))


@op(
    "udtf_apply_in_pandas",
    f"""SELECT event_id, user_id,
              {sql_dround('''(value - AVG(value) OVER (PARTITION BY user_id))
               / stddev_samp(value) OVER (PARTITION BY user_id)''', 6)} AS norm_value
       FROM events""",
)
def udtf_apply_in_pandas(spark: SparkSession, d: str) -> DataFrame:
    """Grouped-map transform: per-user z-score normalization via
    applyInPandas (SNIPPETS.md grouped-map pattern)."""
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("norm_value", DoubleType()),
        ]
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].astype("float64")
        mean, std = v.mean(), v.std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "norm_value": (v - mean) / std,
            }
        )

    e = t(spark, d, "events")
    out = e.select("event_id", "user_id", "value").groupBy("user_id").applyInPandas(
        normalize, schema
    )
    return out.select("event_id", "user_id", dround("norm_value", 6).alias("norm_value"))


@op(
    "udtf_map_in_pandas",
    """SELECT event_id,
              CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                   THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT)
              END AS k,
              value * 2 AS value_x2
       FROM events""",
)
def udtf_map_in_pandas(spark: SparkSession, d: str) -> DataFrame:
    """Partition-wise table function via mapInPandas: JSON props parse +
    derived measure, Arrow batch in/out (the XML-parse fallback shape).

    k extraction is STRICT typed-int (r12 extremes probe): only a JSON
    integer within int64 range yields a value — floats, strings,
    containers, JSON null, and beyond-int64 integers are NULL, so one
    hostile payload can no longer OverflowError-kill the Arrow batch.
    Python json.loads keeps the FIRST duplicate key (object_pairs_hook)
    to match both engines' extraction order; the oracle gates on
    DuckDB's json_type (UBIGINT = a positive integer past int64 —
    TRY_CAST NULLs it like the Python range check).
    """
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("k", LongType()),
            StructField("value_x2", DoubleType()),
        ]
    )

    def first_key_pairs(pairs):
        out = {}
        for key, val in pairs:
            out.setdefault(key, val)
        return out

    def int64_or_none(s):
        # .get: a payload without "k" must yield NULL, not a KeyError
        # that kills the whole stage (round-4 adversarial probe).
        # STRICT typed-int: bool is an int subclass in Python — exclude
        # it; floats/strings/containers/None and beyond-int64 integers
        # all map to NULL (r12 extremes probe: a 20-digit JSON integer
        # OverflowError-killed the former bare astype("Int64")).
        v = json.loads(s, object_pairs_hook=first_key_pairs).get("k")
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return v if -(1 << 63) <= v < (1 << 63) else None

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    # nullable Int64 built from the object list, NOT
                    # via Series.map().astype(): map() coerces int+None
                    # to float64 and near-int64-max values then fail
                    # the safe float->int cast (r12 extremes probe)
                    "k": pd.array(
                        [int64_or_none(s) for s in pdf["props"]],
                        dtype="Int64",
                    ),
                    "value_x2": pdf["value"] * 2,
                }
            )

    e = t(spark, d, "events")
    return e.select("event_id", "props", "value").mapInPandas(parse, schema)


@op(
    "udtf_map_in_arrow",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS net_price
       FROM lineitem""",
)
def udtf_map_in_arrow(spark: SparkSession, d: str) -> DataFrame:
    """Partition-wise table function via mapInArrow: zero-copy Arrow
    RecordBatch in/out — the lowest-overhead Python hook (no pandas
    conversion). The arithmetic runs in Arrow compute kernels, one
    vectorized call per batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            net = pc.multiply(
                batch.column(2), pc.subtract(pa.scalar(1.0), batch.column(3))
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), net],
                ["l_orderkey", "l_linenumber", "net_price"],
            )

    li = t(spark, d, "lineitem").select(
        F.col("l_orderkey").cast("bigint"),
        F.col("l_linenumber").cast("bigint"),
        F.col("l_extendedprice").cast("double"),
        F.col("l_discount").cast("double"),
    )
    return li.mapInArrow(
        fn, "l_orderkey bigint, l_linenumber bigint, net_price double"
    )


@op(
    "udf_arrow_scalar",
    # length() = CHARACTERS (Python len semantics); strlen() is BYTES
    # and diverged on unicode names (round-4 adversarial probe).
    # reverse(): DuckDB reverses GRAPHEMES while Python [::-1] (and
    # Spark's reverse) flips CODEPOINTS — identical whenever every
    # grapheme is one codepoint. Contract: names may contain astral
    # (4-byte UTF-8) chars but not combining sequences or ZWJ
    # clusters, where the two reversals genuinely differ (round-5
    # adversarial probe; the pool's unicode strings are composed).
    """SELECT c_custkey,
              CAST(length(c_name) AS INTEGER) || ':' || reverse(c_name)
                AS tagged
       FROM customer""",
)
def udf_arrow_scalar(spark: SparkSession, d: str) -> DataFrame:
    """Arrow-optimized Python UDF (``useArrow=True``): row-at-a-time
    Python semantics with Arrow-batch transport instead of pickled
    rows — the drop-in upgrade path for legacy F.udf code that can't
    be vectorized (SPARK-40307). The rule (length-tag + reverse) is
    re-expressed in plain SQL by the oracle, so the op certifies the
    serialization path, not the Python logic."""

    @F.udf("string", useArrow=True)
    def tag(name: str) -> str:
        return f"{len(name)}:{name[::-1]}"

    c = t(spark, d, "customer")
    return c.select("c_custkey", tag("c_name").alias("tagged"))


@op(
    "udf_sql_declarative",
    """SELECT l_orderkey, l_linenumber,
              CAST(ROUND(CAST(l_extendedprice * (1 + l_tax) AS DECIMAL(25,6)), 2)
                   AS DOUBLE) AS gross
       FROM lineitem WHERE l_linenumber <= 2""",
)
def udf_sql_declarative(spark: SparkSession, d: str) -> DataFrame:
    """Declarative SQL UDF (Spark 4, SPARK-46246): CREATE OR REPLACE
    TEMPORARY FUNCTION ... RETURNS ... RETURN <expr>. The body is
    inlined into the plan by the analyzer — full codegen and pushdown,
    zero serialization cost, unlike every Python UDF. This is the
    scale-preferred way to package reusable business rules."""
    t(spark, d, "lineitem").createOrReplaceTempView("sqludf_lineitem")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION gross_price(p DOUBLE, tax DOUBLE)
           RETURNS DOUBLE
           RETURN CAST(ROUND(CAST(p * (1 + tax) AS DECIMAL(25,6)), 2) AS DOUBLE)"""
    )
    return spark.sql(
        """SELECT l_orderkey, l_linenumber,
                  gross_price(l_extendedprice, l_tax) AS gross
           FROM sqludf_lineitem WHERE l_linenumber <= 2"""
    )


@op(
    "udtf_sql_table_fn",
    """SELECT 'big' AS tier, o_orderkey, o_totalprice
       FROM orders WHERE o_totalprice > 400000
       UNION ALL
       SELECT 'mid', o_orderkey, o_totalprice
       FROM orders WHERE o_totalprice > 300000 AND o_totalprice <= 350000""",
)
def udtf_sql_table_fn(spark: SparkSession, d: str) -> DataFrame:
    """SQL table function (Spark 4): CREATE TEMPORARY FUNCTION ...
    RETURNS TABLE(...) — a parameterized view expanded and inlined at
    analysis time (predicates push straight into the scan). Called
    twice with different bands and unioned; the oracle is the plain
    relational expansion."""
    t(spark, d, "orders").createOrReplaceTempView("sqltvf_orders")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION price_band(lo DOUBLE, hi DOUBLE)
           RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE)
           RETURN SELECT o_orderkey, o_totalprice
                  FROM sqltvf_orders
                  WHERE o_totalprice > lo AND (hi < 0 OR o_totalprice <= hi)"""
    )
    return spark.sql(
        """SELECT 'big' AS tier, o_orderkey, o_totalprice
           FROM price_band(400000.0, -1.0)
           UNION ALL
           SELECT 'mid', o_orderkey, o_totalprice
           FROM price_band(300000.0, 350000.0)"""
    )


@op(
    "udtf_python_lateral",
    """SELECT p_partkey, word, CAST(length(word) AS INTEGER) AS n
       FROM (SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
             FROM part)""",
)
def udtf_python_lateral(spark: SparkSession, d: str) -> DataFrame:
    """Python UDTF (Spark 3.5+/4 @udtf class API) applied per input row
    via SQL LATERAL: a generator class whose eval() yields a variable
    number of typed rows — the Python analog of a flatMap table
    function with full SQL composability. Kept off hot paths by
    policy (the same expansion is expressible with split+explode,
    see str_split_explode); this op certifies the API surface. The
    oracle is the relational unnest rewrite."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, n int")
    class TypeWords:
        def eval(self, text: str):  # noqa: D401
            for w in text.split(" "):
                yield (w, len(w))

    spark.udtf.register("type_words", TypeWords)
    t(spark, d, "part").createOrReplaceTempView("udtf_part")
    return spark.sql(
        """SELECT p_partkey, s.word, s.n
           FROM udtf_part, LATERAL type_words(p_type) s"""
    )
