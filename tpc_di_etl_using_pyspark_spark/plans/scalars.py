"""SURVEY §2.H scalar functions: string / date / math / conditional /
json / array / hash. All expression-only (no UDFs — SURVEY §2.J policy).

The TPC-DI-signature string exercise is ``str_concat_phone`` [SPEC:
DimCustomer phone formatting rule]: assemble +CC (AC) LOCAL xEXT with
conditional punctuation. Phone parts are synthesized deterministically
from c_custkey (pure integer arithmetic → identical across engines).

Cross-dialect mirrors verified empirically: DuckDB dayofweek is
0=Sunday (Spark 1=Sunday), DuckDB regexp_replace needs the 'g' flag,
DuckDB CAST(double AS INT) rounds (Spark truncates → mirror with
trunc()), DuckDB year() returns BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import DEC, dround, sql_dround, t
from .registry import op


# --- phone parts, shared between query and oracle ------------------------
_SQL_CC = "CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE CAST(c_custkey % 100 AS VARCHAR) END"
_SQL_AC = (
    "CASE WHEN c_custkey % 4 = 0 THEN NULL "
    "ELSE lpad(CAST(c_custkey % 1000 * 7 % 1000 AS VARCHAR), 3, '0') END"
)
# (k mod 1e7)·(A mod 1e7) mod 1e7 ≡ (k·A) mod 1e7 with every
# intermediate < 1e14: the naive k·2654435761 product overflows int64
# for keys beyond ~3.5e9 — ANSI ARITHMETIC_OVERFLOW on a realistic
# 100 TB key domain (r11 probe, the sample_split_assign class).
_SQL_LOCAL = (
    "lpad(CAST((c_custkey % 10000000) * 4435761 % 10000000 AS VARCHAR),"
    " 7, '0')"
)
_SQL_EXT = "CASE WHEN c_custkey % 5 = 0 THEN CAST(c_custkey % 100 AS VARCHAR) ELSE NULL END"


@op(
    "str_concat_phone",
    f"""WITH parts AS (
          SELECT c_custkey, {_SQL_CC} AS cc, {_SQL_AC} AS ac,
                 {_SQL_LOCAL} AS loc, {_SQL_EXT} AS ext
          FROM customer)
        SELECT c_custkey,
               CASE WHEN cc IS NOT NULL AND ac IS NOT NULL
                      THEN '+' || cc || ' (' || ac || ') ' || loc
                    WHEN ac IS NOT NULL THEN '(' || ac || ') ' || loc
                    ELSE loc END
               || CASE WHEN ext IS NOT NULL THEN ' x' || ext ELSE '' END AS phone
        FROM parts""",
)
def str_concat_phone(spark: SparkSession, d: str) -> DataFrame:
    """Conditional phone assembly from CC/AC/local/ext parts [SPEC: DimCustomer phone formatting rule]."""
    c = t(spark, d, "customer")
    k = F.col("c_custkey")
    cc = F.when(k % 3 == 0, F.lit(None)).otherwise((k % 100).cast("string"))
    # area code key pre-reduced mod 1e3 (r12 extremes probe: k*7 ANSI-
    # overflows at hash-scale ids; identical by modular arithmetic)
    ac = F.when(k % 4 == 0, F.lit(None)).otherwise(
        F.lpad((k % 1000 * 7 % 1000).cast("string"), 3, "0")
    )
    # overflow-free (k·A) mod 1e7 — see _SQL_LOCAL's derivation above
    loc = F.lpad(((k % 10000000) * 4435761 % 10000000).cast("string"), 7, "0")
    ext = F.when(k % 5 == 0, (k % 100).cast("string")).otherwise(F.lit(None))
    base = (
        F.when(
            cc.isNotNull() & ac.isNotNull(),
            F.concat(F.lit("+"), cc, F.lit(" ("), ac, F.lit(") "), loc),
        )
        .when(ac.isNotNull(), F.concat(F.lit("("), ac, F.lit(") "), loc))
        .otherwise(loc)
    )
    phone = F.concat(base, F.when(ext.isNotNull(), F.concat(F.lit(" x"), ext)).otherwise(F.lit("")))
    return c.select("c_custkey", phone.alias("phone"))


@op(
    "str_substr_trim",
    """SELECT p_partkey, substring(p_name, 1, 10) AS name10,
              ltrim(rtrim('  ' || p_name || '  ')) AS trimmed,
              rtrim('  ' || p_name || '  ') AS rtrimmed
       FROM part""",
)
def str_substr_trim(spark: SparkSession, d: str) -> DataFrame:
    """Fixed-offset substring + trim [SPEC: FINWIRE field extraction]."""
    p = t(spark, d, "part")
    padded = F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 10).alias("name10"),
        F.ltrim(F.rtrim(padded)).alias("trimmed"),
        F.rtrim(padded).alias("rtrimmed"),
    )


@op(
    "str_case_match",
    """SELECT c_custkey, upper(c_name) AS name_u, lower(c_mktsegment) AS seg_l
       FROM customer WHERE upper(c_mktsegment) = 'BUILDING'""",
)
def str_case_match(spark: SparkSession, d: str) -> DataFrame:
    """Case-insensitive (UPPER) equality matching [SPEC: Prospect-Customer match rule]."""
    c = t(spark, d, "customer")
    return c.filter(F.upper("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        F.upper("c_name").alias("name_u"),
        F.lower("c_mktsegment").alias("seg_l"),
    )


@op(
    "str_pad_format",
    """SELECT n_nationkey,
              lpad(CAST(n_nationkey AS VARCHAR), 5, '0') AS code5,
              rpad(n_name, 20, '.') AS name_pad,
              printf('%03d-%s', n_nationkey, n_name) AS fmt
       FROM nation""",
)
def str_pad_format(spark: SparkSession, d: str) -> DataFrame:
    """lpad / rpad + format_string key formatting [REF*: key formatting]."""
    n = t(spark, d, "nation")
    return n.select(
        "n_nationkey",
        F.lpad(F.col("n_nationkey").cast("string"), 5, "0").alias("code5"),
        F.rpad("n_name", 20, ".").alias("name_pad"),
        F.format_string("%03d-%s", "n_nationkey", "n_name").alias("fmt"),
    )


@op(
    "str_regexp",
    """SELECT p_partkey,
              regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
              regexp_replace(p_name, ' ', '_', 'g') AS snake
       FROM part""",
)
def str_regexp(spark: SparkSession, d: str) -> DataFrame:
    """regexp_extract / regexp_replace cleansing [REF*: cleansing]."""
    p = t(spark, d, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
    )


@op(
    "str_split_explode",
    """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word FROM part""",
)
def str_split_explode(spark: SparkSession, d: str) -> DataFrame:
    """Multi-value field → rows [SPEC: Prospect MarketingNameplate]."""
    p = t(spark, d, "part")
    return p.select("p_partkey", F.explode(F.split("p_type", " ")).alias("word"))


@op(
    "date_parse",
    """SELECT o_orderkey,
              CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS d1,
              CAST(FLOOR(EPOCH(strptime(strftime(o_orderdate, '%Y%m%d') || '-120000',
                                        '%Y%m%d-%H%M%S'))) AS BIGINT) AS ts_sec
       FROM orders""",
)
def date_parse(spark: SparkSession, d: str) -> DataFrame:
    """Round-trip the TPC-DI source encodings yyyymmdd and
    yyyymmdd-hhmmss (FINWIRE PTS) [SPEC: source date encodings]."""
    o = t(spark, d, "orders")
    s = F.date_format("o_orderdate", "yyyyMMdd")
    return o.select(
        "o_orderkey",
        F.to_date(s, "yyyyMMdd").alias("d1"),
        F.unix_timestamp(
            F.to_timestamp(F.concat(s, F.lit("-120000")), "yyyyMMdd-HHmmss")
        ).alias("ts_sec"),
    )


@op(
    "date_arith",
    """SELECT o_orderkey,
              date_add(CAST(o_orderdate AS DATE), 30) AS plus30,
              CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
              datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy
       FROM orders""",
)
def date_arith(spark: SparkSession, d: str) -> DataFrame:
    """datediff / add_months / date_add [SPEC: age->Boomer flag; EndDate math]."""
    o = t(spark, d, "orders")
    dt = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_add(dt, 30).alias("plus30"),
        F.add_months(dt, 3).alias("plus3mo"),
        F.datediff(F.lit("1998-12-31").cast("date"), dt).alias("days_to_eoy"),
    )


@op(
    "date_extract",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS INTEGER) AS y,
              CAST(quarter(o_orderdate) AS INTEGER) AS q,
              CAST(month(o_orderdate) AS INTEGER) AS mo,
              CAST(day(o_orderdate) AS INTEGER) AS dom,
              CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
              CAST(weekofyear(o_orderdate) AS INTEGER) AS woy
       FROM orders""",
)
def date_extract(spark: SparkSession, d: str) -> DataFrame:
    """DimDate attribute derivations [SPEC: DimDate columns]. DuckDB
    dayofweek is 0-based Sunday; Spark is 1-based → +1 on the oracle."""
    o = t(spark, d, "orders")
    c = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(c).cast("int").alias("y"),
        F.quarter(c).cast("int").alias("q"),
        F.month(c).cast("int").alias("mo"),
        F.dayofmonth(c).cast("int").alias("dom"),
        F.dayofweek(c).cast("int").alias("dow"),
        F.weekofyear(c).cast("int").alias("woy"),
    )


@op(
    "date_trunc_bucket",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS day_value
       FROM events GROUP BY 1""",
)
def date_trunc_bucket(spark: SparkSession, d: str) -> DataFrame:
    """Day/week/month timestamp bucketing [SPEC: daily fact grain]."""
    e = t(spark, d, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("day_value"),
        )
    )


@op(
    "math_round_money",
    f"""SELECT l_orderkey, l_linenumber,
              {sql_dround('l_extendedprice * l_discount', 2)} AS disc_amt,
              abs(l_discount - 0.05) AS disc_dev,
              {sql_dround('l_extendedprice', 0)} AS price_whole
       FROM lineitem""",
)
def math_round_money(spark: SparkSession, d: str) -> DataFrame:
    """HALF_UP money rounding through DECIMAL [SPEC: money rounding]."""
    # ROUND half-up to cents [SPEC: money rounding] — via dround: Spark
    # and DuckDB disagree on native double rounding (see _util).
    li = t(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("disc_amt"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        dround("l_extendedprice", 0).alias("price_whole"),
    )


@op(
    "math_ratio_guard",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice / NULLIF(l_quantity - 25, 0) AS price_per_off25
       FROM lineitem""",
)
def math_ratio_guard(spark: SparkSession, d: str) -> DataFrame:
    """Guarded division [SPEC: PE/Yield NULL-when-zero rules]."""
    li = t(spark, d, "lineitem")
    den = F.col("l_quantity") - 25
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(den != 0, F.col("l_extendedprice") / den).alias("price_per_off25"),
    )


@op(
    "cond_case_when",
    """SELECT o_orderkey,
              CASE WHEN o_orderpriority = '1-URGENT' THEN 'hot'
                   WHEN o_orderpriority IN ('2-HIGH', '3-MEDIUM') THEN 'warm'
                   ELSE 'cold' END AS heat,
              CASE o_orderstatus WHEN 'F' THEN 'final' WHEN 'O' THEN 'open'
                   ELSE 'partial' END AS status_name
       FROM orders""",
)
def cond_case_when(spark: SparkSession, d: str) -> DataFrame:
    """Multi-branch CASE mapping [SPEC: status-code translation]."""
    o = t(spark, d, "orders")
    heat = (
        F.when(F.col("o_orderpriority") == "1-URGENT", "hot")
        .when(F.col("o_orderpriority").isin("2-HIGH", "3-MEDIUM"), "warm")
        .otherwise("cold")
    )
    status = (
        F.when(F.col("o_orderstatus") == "F", "final")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("partial")
    )
    return o.select("o_orderkey", heat.alias("heat"), status.alias("status_name"))


@op(
    "null_coalesce",
    """SELECT c_custkey,
              COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
              COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_pos
       FROM customer""",
)
def null_coalesce(spark: SparkSession, d: str) -> DataFrame:
    """COALESCE / NULLIF missing-value defaults [SPEC: missing-value rules]."""
    c = t(spark, d, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.coalesce(
            F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal")),
            F.lit(0.0),
        ).alias("bal_pos"),
    )


@op(
    "cast_types",
    """SELECT o_orderkey,
              CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
              TRY_CAST(o_orderstatus AS INTEGER) AS bad_int,
              CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
              CAST(o_orderkey AS DOUBLE) AS key_dbl
       FROM orders""",
)
def cast_types(spark: SparkSession, d: str) -> DataFrame:
    """Schema-on-read typing with bad-value nulling [SPEC]. Note:
    DuckDB CAST(double→int) rounds, Spark truncates → oracle uses
    trunc() to mirror Spark."""
    o = t(spark, d, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.col("o_orderstatus").try_cast("int").alias("bad_int"),
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
    )


@op(
    "json_extract",
    """SELECT event_id,
              CASE WHEN regexp_full_match(
                          json_extract_string(props, '$.k'),
                          '-?[0-9]{1,19}')
                   THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              END AS k
       FROM events""",
)
def json_extract(spark: SparkSession, d: str) -> DataFrame:
    """JSON field extraction from events.props [EXT: north star].

    Integer extraction is REGEX-GATED + try_cast (r12 extremes probe,
    tools/probe_r12_extremes.py): the former bare CAST(... AS INT)
    ANSI-stage-killed on any payload whose k exceeds int32 — including
    the int64 maximum and >int64 JSON integers a 100 TB corpus will
    contain. The gate accepts an optionally-signed <=19-digit integer
    literal (both engines' unquoted extraction agrees on those);
    try_cast NULLs the 19-digit values past the int64 ceiling
    identically in both engines. Non-integer shapes (floats,
    exponent forms, strings, containers, JSON null) are NULL by the
    gate. Lenient convention: a numeric JSON STRING "123" extracts as
    123 — both engines' *_string extraction is unquoted, so the gate
    cannot (and does not try to) distinguish it."""
    e = t(spark, d, "events")
    raw = F.get_json_object("props", "$.k")
    gated = F.when(raw.rlike(r"\A-?[0-9]{1,19}\z"), raw.try_cast("bigint"))
    return e.select("event_id", gated.alias("k"))


@op(
    "array_ops",
    """SELECT vec_id, len(embedding) AS dim,
              CAST(embedding[1] AS DOUBLE) AS first_comp,
              CAST(embedding[64] AS DOUBLE) AS last_comp
       FROM embeddings""",
)
def array_ops(spark: SparkSession, d: str) -> DataFrame:
    """size / element_at / slice over embedding arrays [EXT: north star]."""
    e = t(spark, d, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_comp"),
        F.element_at("embedding", 64).cast("double").alias("last_comp"),
    )


@op(
    "array_fold_dot",
    f"""SELECT vec_id,
              CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS norm_sq,
              {sql_dround('sqrt(SUM(CAST(x * x AS DECIMAL(25,6))))', 6)} AS l2_norm
       FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
       GROUP BY vec_id""",
)
def array_fold_dot(spark: SparkSession, d: str) -> DataFrame:
    """Dot/norm via higher-order functions — no UDF, stays in codegen.
    Each squared term is cast to DECIMAL(25,6) before the fold (the
    repo's dsum invariant) so the accumulation is exact and
    order-independent on both engines — raw double sums accumulate in
    engine-specific order and can round apart at the 6th decimal."""
    e = t(spark, d, "embeddings")
    ad = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, ad, lambda x, y: x * y),
        F.lit(0).cast(DEC),
        lambda s, x: (s + x.cast(DEC)).cast(DEC),
    )
    return e.select(
        "vec_id",
        dot.cast("double").alias("norm_sq"),
        dround(F.sqrt(dot.cast("double")), 6).alias("l2_norm"),
    )


@op(
    "map_ops",
    """SELECT doc_id, 'lang' AS meta_key, lang AS meta_value,
              lang AS lang_via_map, 2 AS n_keys
       FROM documents
       UNION ALL
       SELECT doc_id, 'source', source, lang, 2 FROM documents""",
)
def map_ops(spark: SparkSession, d: str) -> DataFrame:
    """Map column build/lookup/explode [EXT]. A map column itself
    doesn't hash portably across engines (entry order), so the query
    certifies the map machinery through its observable surface:
    exploded entries (order-free multiset), a key lookup, and the map
    size — all deterministic rows the SQL oracle reproduces."""
    doc = t(spark, d, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return doc.select(
        "doc_id",
        F.explode(m).alias("meta_key", "meta_value"),
        F.element_at(m, "lang").alias("lang_via_map"),
        F.size(m).alias("n_keys"),
    )


@op(
    "hash_checksum",
    """SELECT n_nationkey,
              sha256(concat_ws('|', n_nationkey, n_name, n_regionkey)) AS row_sha
       FROM nation""",
)
def hash_checksum(spark: SparkSession, d: str) -> DataFrame:
    """Row checksums [SPEC: audit checksums]."""
    n = t(spark, d, "nation")
    return n.select(
        "n_nationkey",
        F.sha2(F.concat_ws("|", "n_nationkey", "n_name", "n_regionkey"), 256).alias("row_sha"),
    )


@op(
    "str_levenshtein_link",
    # linkage is ASCII-GATED on both sides: Spark's levenshtein counts
    # CODEPOINTS while DuckDB's counts BYTES, so a non-ASCII pair
    # within 2 codepoint edits can sit beyond 2 byte edits ('a🎵' vs
    # 'ab': Spark 1, DuckDB 5 — round-5 adversarial probe). For ASCII
    # the two metrics coincide; non-ASCII names are unlinkable in BOTH
    # engines by the same regexp gate. The gate anchors \A..\z, NOT
    # ^..$: Java's $ also matches before a FINAL U+0085/U+2028/U+2029
    # (all Java line terminators) that the [\x00-\x7F] class cannot
    # consume, so an 'abc'+U+0085 name passed only the Spark gate and entered
    # linkage one-sided — r9 probe; \z is end-of-text in both engines.
    #
    # The oracle replicates the shipped plan's SymSpell deletion-
    # neighborhood move-for-move (VERDICT r9 item 2): i deletes the
    # higher position of name (i = 0 → none), j < i deletes the lower
    # position of the SHORTENED string (j = 0 → none), DISTINCT
    # variants per row, candidate pairs share (block, variant), and
    # the final levenshtein <= 2 verify makes the output exact — so
    # both engines certify the same algorithm, not just the same
    # answer. substr/length/levenshtein agree on the gated ASCII
    # domain (bytes == codepoints, NUL included — r9 pool).
    """WITH base AS (
         SELECT c_custkey AS ck, c_nationkey AS blk, c_name AS name
         FROM customer
         WHERE regexp_matches(c_name, '\\A[\\x00-\\x7F]*\\z')),
       pos AS (
         SELECT ck, blk, name, unnest(range(0, length(name) + 1)) AS i
         FROM base),
       pos2 AS (
         SELECT ck, blk, name, i,
                unnest(CASE WHEN i = 0 THEN [CAST(0 AS BIGINT)]
                            ELSE range(0, i) END) AS j
         FROM pos),
       v1 AS (
         SELECT ck, blk, j,
                CASE WHEN i > 0
                     THEN substr(name, 1, CAST(i - 1 AS INTEGER))
                          || substr(name, CAST(i + 1 AS INTEGER))
                     ELSE name END AS d1
         FROM pos2),
       vars AS (
         SELECT DISTINCT ck, blk,
                CASE WHEN j > 0
                     THEN substr(d1, 1, CAST(j - 1 AS INTEGER))
                          || substr(d1, CAST(j + 1 AS INTEGER))
                     ELSE d1 END AS var
         FROM v1),
       cand AS (
         SELECT l.ck AS id_a, r.ck AS id_b
         FROM vars l JOIN vars r ON l.blk = r.blk AND l.var = r.var
                                AND l.ck < r.ck
         GROUP BY 1, 2)
       SELECT c.id_a, c.id_b, levenshtein(a.name, b.name) AS edit_dist
       FROM cand c
       JOIN base a ON a.ck = c.id_a
       JOIN base b ON b.ck = c.id_b
       WHERE levenshtein(a.name, b.name) <= 2""",
)
def str_levenshtein_link(spark: SparkSession, d: str) -> DataFrame:
    """Fuzzy record linkage [SPEC: Prospect matching generalized from
    exact-UPPER to edit-distance]: candidate pairs from a SymSpell-
    style DELETION NEIGHBORHOOD within nation blocks, kept when the
    names are within 2 edits. Contract: linkage applies to ASCII
    names only — the gate (mirrored in the oracle) exists because the
    engines' Levenshtein units differ off-ASCII (codepoints vs bytes,
    see oracle comment); at 100 TB a name-linkage pass would
    normalize/transliterate first anyway.

    Scale shape (VERDICT r9 item 2, replacing the O(block²) blocked
    cross join whose 5× probe row hit 8.6×): each row emits its ≤2-
    deletion variants (1 + L + C(L,2) strings, expression-only —
    sequence + explode, no UDF), candidates are DISTINCT id pairs
    sharing (block, variant), and a final levenshtein ≤ 2 verify runs
    on candidates only. EXACT for dist ≤ 2: if lev(a,b) ≤ 2 the pair
    shares a variant reachable by ≤2 deletions from each (SymSpell
    completeness), so the candidate set is a superset and the verify
    makes the output identical to the brute join's (pair-set equality
    asserted in tests/test_levenshtein_link.py and measured
    through 25× in tools/lev_crossover_probe.py: brute wins below
    ~15k rows, the neighborhood wins 1.9–6.5× at 375k). Work scales
    with rows × L² variant generation plus candidate-set joins —
    never block² — and the variant self-join carries an explicit
    merge hint because the post-explode size ESTIMATE undershoots the
    broadcast threshold while the actual relation is GBs (measured in
    the probe: AQE broadcast the wrong side and hit the 8 GB cap)."""
    c = t(spark, d, "customer")
    ascii_ok = F.col("c_name").rlike(r"\A[\x00-\x7F]*\z")
    base = c.filter(ascii_ok).select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("blk"),
        F.col("c_name").alias("name"),
    )
    # (i, j) with i ∈ 0..L (i = 0 → no deletion) and j < i (j = 0 →
    # only one deletion): every unordered pair of distinct positions
    # exactly once, deleting the higher index first so the second
    # index stays valid on the shortened string.
    v = base.select(
        "ck", "blk", "name",
        F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i"),
    ).select(
        "ck", "blk", "name", "i",
        F.explode(
            F.when(F.col("i") == 0, F.sequence(F.lit(0), F.lit(0)))
            .otherwise(F.sequence(F.lit(0), F.col("i") - 1))
        ).alias("j"),
    )
    del1 = F.when(
        F.col("i") > 0,
        F.concat(
            F.expr("substring(name, 1, i - 1)"), F.expr("substring(name, i + 1)")
        ),
    ).otherwise(F.col("name"))
    v = v.select("ck", "blk", del1.alias("d1"), "j")
    del2 = F.when(
        F.col("j") > 0,
        F.concat(F.expr("substring(d1, 1, j - 1)"), F.expr("substring(d1, j + 1)")),
    ).otherwise(F.col("d1"))
    variants = v.select("ck", "blk", del2.alias("var")).dropDuplicates(
        ["ck", "blk", "var"]
    )
    left = variants.select("blk", "var", F.col("ck").alias("id_a"))
    right = variants.select("blk", "var", F.col("ck").alias("id_b"))
    cand = (
        left.hint("merge")
        .join(right, ["blk", "var"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    na = base.select(F.col("ck").alias("id_a"), F.col("name").alias("name_a"))
    nb = base.select(F.col("ck").alias("id_b"), F.col("name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .filter(dist <= 2)
        .select("id_a", "id_b", dist.alias("edit_dist"))
    )


@op(
    "date_boundaries",
    """SELECT o_orderkey,
              CAST(o_orderdate AS DATE) AS order_date,
              last_day(CAST(o_orderdate AS DATE)) AS month_end,
              CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
                AS quarter_start,
              CAST(date_trunc('year', CAST(o_orderdate AS DATE)) AS DATE)
                AS year_start
       FROM orders""",
)
def date_boundaries(spark: SparkSession, d: str) -> DataFrame:
    """Period-boundary derivation (month end, quarter/year start)
    [SPEC: DimDate period attributes; fiscal rollup keys]."""
    o = t(spark, d, "orders")
    dt = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        dt.alias("order_date"),
        F.last_day(dt).alias("month_end"),
        F.trunc(dt, "quarter").alias("quarter_start"),
        F.trunc(dt, "year").alias("year_start"),
    )


@op(
    "array_posexplode",
    """SELECT vec_id, CAST(i AS INTEGER) AS pos,
              CAST(embedding[i + 1] AS DOUBLE) AS component
       FROM (SELECT vec_id, embedding,
                    unnest(range(0, len(embedding))) AS i
             FROM embeddings)""",
)
def array_posexplode(spark: SparkSession, d: str) -> DataFrame:
    """Positional array explode (vector → one row per component with
    its index) [EXT: feature-per-row reshaping for drift stats]."""
    e = t(spark, d, "embeddings")
    return e.select(
        "vec_id", F.posexplode(F.col("embedding"))
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("col").cast("double").alias("component"),
    )


@op(
    "math_functions",
    f"""SELECT l_orderkey, l_linenumber,
               {sql_dround('ln(l_extendedprice)', 6)} AS ln_price,
               {sql_dround('sqrt(l_extendedprice)', 6)} AS sqrt_price,
               {sql_dround('pow(l_discount + 1, 3)', 6)} AS pow_disc,
               {sql_dround('exp(l_discount)', 6)} AS exp_disc,
               CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_price,
               CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
               {sql_dround('log10(l_extendedprice)', 6)} AS log10_price
        FROM lineitem WHERE l_extendedprice > 0""",
)
def math_functions(spark: SparkSession, d: str) -> DataFrame:
    """Math function family (ln/sqrt/pow/exp/ceil/floor/log10) [SPEC:
    measure derivations] — libm results are bit-identical across
    engines on this platform; round(6) guards the exotic cases."""
    li = t(spark, d, "lineitem").filter(F.col("l_extendedprice") > 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(F.log(F.col("l_extendedprice")), 6).alias("ln_price"),
        dround(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        dround(F.pow(F.col("l_discount") + 1, 3), 6).alias("pow_disc"),
        dround(F.exp("l_discount"), 6).alias("exp_disc"),
        F.ceil("l_extendedprice").cast("bigint").alias("ceil_price"),
        F.floor("l_extendedprice").cast("bigint").alias("floor_price"),
        dround(F.log10("l_extendedprice"), 6).alias("log10_price"),
    )


@op(
    "str_encode_b64_hex",
    # encode() is DuckDB's utf-8 string→BLOB conversion; the former
    # CAST(... AS BLOB) threw on any non-ascii text (round-4
    # adversarial probe) because DuckDB's string→blob cast demands
    # hex-escaped bytes. Spark's encode(col, 'utf-8') is the same
    # total utf-8 conversion, so both engines hash identical bytes on
    # arbitrary unicode.
    """SELECT doc_id,
              base64(encode(substring(text, 1, 24))) AS head_b64,
              hex(encode(substring(text, 1, 24))) AS head_hex,
              strlen(text) AS n_bytes
       FROM documents""",
)
def str_encode_b64_hex(spark: SparkSession, d: str) -> DataFrame:
    """Binary encodings (base64 / hex of a content prefix) [EXT:
    content-addressable keys and wire formats for opaque payloads].

    Spark's base64() MIME-chunks its output with CRLF every 76 chars
    once the payload exceeds 57 bytes (r12 NFD probe: a 24-codepoint
    prefix at 2-3 bytes/codepoint crosses the line limit; the
    spark.sql.legacy.chunkBase64String.enabled conf does not disable
    it on this build), while DuckDB emits continuous base64 — the
    strip below restores byte-identity at any payload size
    (tests/test_r13_prep.py pins the recipe and flags if a Spark
    upgrade stops chunking)."""
    doc = t(spark, d, "documents")
    head = F.encode(F.substring("text", 1, 24), "utf-8")
    return doc.select(
        "doc_id",
        F.regexp_replace(F.base64(head), "[\\r\\n]", "").alias("head_b64"),
        F.hex(head).alias("head_hex"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )


# Shared URL validity gate for str_url_parse — one pattern, evaluated by
# BOTH regex engines (Java / RE2), so "invalid" means the same thing on
# both sides: scheme, host of [A-Za-z0-9.-], optional unreserved-ish
# path and query. Anything outside (spaces, unicode, quotes, commas,
# backslashes) NULLs the parsed components in both engines. Anchored
# \A..\z (supported identically by Java and RE2) instead of ^..$:
# Java's $ matches before a trailing newline while RE2's does not, so
# a bare-host URL ending in '\n' would pass only the Spark gate — \z
# closes that engine divergence (round-5 ADVICE hardening).
_URL_VALID_RE = (
    r"\Ahttps?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~%/-]*)?"
    r"(\?[A-Za-z0-9._~%=&-]*)?\z"
)


@op(
    "str_url_parse",
    f"""WITH u AS (
         SELECT c_custkey,
                'https://ex' || CAST(c_nationkey AS VARCHAR) ||
                '.com/seg/' || CAST(c_custkey % 7 AS VARCHAR) ||
                '?q=' || lower(c_mktsegment) AS url
         FROM customer)
       SELECT c_custkey, url,
              CASE WHEN regexp_matches(url, '{_URL_VALID_RE}')
                   THEN regexp_extract(url, '^[a-z]+://([^/?]+)', 1) END AS host,
              CASE WHEN regexp_matches(url, '{_URL_VALID_RE}')
                   THEN regexp_extract(url, '^[a-z]+://[^/?]+(/[^?]*)', 1) END AS path,
              CASE WHEN regexp_matches(url, '{_URL_VALID_RE}')
                   THEN NULLIF(regexp_extract(url, '\\?(.*)$', 1), '') END AS query
       FROM u""",
)
def str_url_parse(spark: SparkSession, d: str) -> DataFrame:
    """URL decomposition (host/path/query) via try_parse_url — a JVM
    builtin, no UDF [EXT: web-corpus curation needs URL keys for
    dedup/blocklists]. The oracle mirrors with regexes behind the SAME
    validity gate (_URL_VALID_RE, evaluated identically by both regex
    engines): invalid URLs — spaces, unicode, shell metacharacters in
    the segment, the round-4 adversarial-probe crash case — yield NULL
    components in both engines instead of a thrown INVALID_URL
    (try_parse_url makes the Spark side total; at 100 TB one malformed
    URL must not kill a stage). Edge contract, probed with literal
    strings against both engines (round-5 ADVICE hardening): a
    trailing-newline URL fails the \\A..\\z-anchored gate in BOTH
    engines; an empty query ('...?') is canonicalized to NULL on both
    sides (nullif here, NULLIF in the oracle) because try_parse_url
    returns '' where a no-match regexp_extract cannot."""
    c = t(spark, d, "customer")
    url = F.concat(
        F.lit("https://ex"), F.col("c_nationkey").cast("string"),
        F.lit(".com/seg/"), (F.col("c_custkey") % 7).cast("string"),
        F.lit("?q="), F.lower("c_mktsegment"),
    )
    u = c.select("c_custkey", url.alias("url"))
    ok = F.col("url").rlike(_URL_VALID_RE)

    def part(kind: str):
        return F.when(ok, F.try_parse_url("url", F.lit(kind)))

    return u.select(
        "c_custkey",
        "url",
        part("HOST").alias("host"),
        part("PATH").alias("path"),
        F.when(ok, F.nullif(F.try_parse_url("url", F.lit("QUERY")), F.lit("")))
         .alias("query"),
    )


@op(
    "bit_ops",
    """SELECT e1.event_id,
              CAST(e1.event_id & 255 AS BIGINT) AS low_byte,
              CAST(e1.event_id | 4096 AS BIGINT) AS with_flag,
              CAST(xor(e1.event_id, e1.user_id) AS BIGINT) AS mixed,
              CAST((e1.event_id & 2305843009213693951) << 2 AS BIGINT)
                AS shifted_l,
              CAST(e1.event_id >> 3 AS BIGINT) AS shifted_r,
              CAST(bit_count(CAST(e1.event_id AS BIGINT)) AS INTEGER) AS popcount
       FROM events e1""",
)
def bit_ops(spark: SparkSession, d: str) -> DataFrame:
    """Bitwise flag manipulation (AND/OR/XOR/shifts/popcount) [EXT:
    packed-flag columns, fingerprint surgery — the scalar surface under
    simhash]. All JVM-codegen expressions.

    shifted_l is the LOW-61-BIT contract (mask 0x1FFFFFFFFFFFFFFF
    before << 2): the unmasked shift is not portable at int64
    extremes — DuckDB throws ("shift overflow") on I64_MAX << 2 while
    Spark wraps silently, Java-style (r12 extremes probe; recipe
    pinned in tests/test_r13_prep.py). The masked form is well-defined
    and engine-identical for every int64 input."""
    e = t(spark, d, "events")
    k = F.col("event_id")
    return e.select(
        "event_id",
        k.bitwiseAND(F.lit(255)).cast("bigint").alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).cast("bigint").alias("with_flag"),
        k.bitwiseXOR(F.col("user_id")).cast("bigint").alias("mixed"),
        F.shiftleft(k.bitwiseAND(F.lit(0x1FFFFFFFFFFFFFFF)), 2)
        .cast("bigint")
        .alias("shifted_l"),
        F.shiftright(k, 3).cast("bigint").alias("shifted_r"),
        F.bit_count(k.cast("bigint")).cast("int").alias("popcount"),
    )


@op(
    "math_trig",
    f"""SELECT n_nationkey,
               {sql_dround('sin(n_nationkey * 0.25)', 6)} AS sin_v,
               {sql_dround('cos(n_nationkey * 0.25)', 6)} AS cos_v,
               {sql_dround('atan2(n_nationkey, 10)', 6)} AS bearing,
               {sql_dround('degrees(atan2(n_nationkey, 10))', 6)} AS bearing_deg
        FROM nation""",
)
def math_trig(spark: SparkSession, d: str) -> DataFrame:
    """Trigonometric family (sin/cos/atan2/degrees) [EXT: geo bearing /
    cyclical-feature encoding]; rounded through DECIMAL(25,6) — libm
    vs JVM trig can differ in the last ulp."""
    n = t(spark, d, "nation")
    k = F.col("n_nationkey")
    return n.select(
        "n_nationkey",
        dround(F.sin(k * 0.25), 6).alias("sin_v"),
        dround(F.cos(k * 0.25), 6).alias("cos_v"),
        dround(F.atan2(k.cast("double"), F.lit(10.0)), 6).alias("bearing"),
        dround(F.degrees(F.atan2(k.cast("double"), F.lit(10.0))), 6).alias("bearing_deg"),
    )


@op(
    "date_spine_gapfill",
    """WITH spine AS (
         SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                                            DATE '1995-03-31',
                                            INTERVAL 1 DAY)) AS DATE) AS d),
       daily AS (
         SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
         FROM orders
         WHERE o_orderdate >= DATE '1995-01-01'
           AND o_orderdate < DATE '1995-04-01'
         GROUP BY 1)
       SELECT spine.d, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_orders
       FROM spine LEFT JOIN daily ON spine.d = daily.d""",
)
def date_spine_gapfill(spark: SparkSession, d: str) -> DataFrame:
    """Date-spine gap fill [SPEC: DimDate generated calendar; EXT:
    every reporting pipeline's zero-fill].

    The spine is generated with ``sequence`` + ``explode`` from ONE
    driver row — a bounded calendar domain (90 days here; 36 500 rows
    for a century), never a scan. The fact side is pre-filtered to the
    spine's range so the parquet scan prunes on o_orderdate, then the
    left join zero-fills missing days. The spine side is tiny →
    planner broadcasts it; the daily aggregate is map-side combined."""
    o = t(spark, d, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1995-01-01")),
                F.to_date(F.lit("1995-03-31")),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return spine.join(daily, "d", "left").select(
        "d", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders")
    )


@op(
    "array_exists_forall",
    """SELECT vec_id,
              len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 2.5)) > 0
                AS any_large,
              len(list_filter(embedding,
                  x -> NOT (CAST(x AS DOUBLE) >= -4.0
                            AND CAST(x AS DOUBLE) <= 4.0))) = 0
                AS all_bounded,
              CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) < 0))
                   AS INTEGER) AS n_negative
       FROM embeddings""",
)
def array_exists_forall(spark: SparkSession, d: str) -> DataFrame:
    """Higher-order array predicates: exists / forall / filter-count
    [EXT: vector sanity gates — range checks on embeddings before they
    enter an index]. Pure codegen expressions, shuffle-free."""
    e = t(spark, d, "embeddings")
    ad = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.exists(ad, lambda x: x > 2.5).alias("any_large"),
        F.forall(ad, lambda x: (x >= -4.0) & (x <= 4.0)).alias("all_bounded"),
        F.size(F.filter(ad, lambda x: x < 0)).alias("n_negative"),
    )


@op(
    "json_nested_roundtrip",
    """WITH j AS (
         SELECT event_id,
                to_json(struct_pack(
                  usr := struct_pack(id := user_id, typ := event_type),
                  vals := [event_id % 7, event_id % 11])) AS js
         FROM events)
       SELECT event_id,
              CAST(json_extract(js, '$.usr.id') AS BIGINT) AS uid,
              json_extract_string(js, '$.usr.typ') AS utype,
              CAST(json_extract(js, '$.vals[1]') AS BIGINT) AS val2
       FROM j""",
)
def json_nested_roundtrip(spark: SparkSession, d: str) -> DataFrame:
    """Typed nested-JSON round trip: build a nested document with
    to_json, parse it back with from_json against an explicit schema,
    and project dotted paths [EXT: log/event ingestion — the schema-on
    -read contract]. Proves serializer and parser agree on nesting,
    arrays, and types in both engines. Narrow map, shuffle-free."""
    e = t(spark, d, "events")
    js = F.to_json(
        F.struct(
            F.struct(
                F.col("user_id").alias("id"), F.col("event_type").alias("typ")
            ).alias("usr"),
            F.array(F.col("event_id") % 7, F.col("event_id") % 11).alias(
                "vals"
            ),
        )
    )
    schema = "struct<usr: struct<id: bigint, typ: string>, vals: array<bigint>>"
    parsed = F.from_json(js, schema)
    return e.select(
        "event_id",
        parsed["usr"]["id"].alias("uid"),
        parsed["usr"]["typ"].alias("utype"),
        F.element_at(parsed["vals"], 2).alias("val2"),
    )


@op(
    "json_variant_extract",
    # vschema is DERIVED from the payload (keys sorted, json types
    # mapped to variant type names), not pinned to the fixture's
    # {"k": int} shape — the former literal 'OBJECT<k: BIGINT>'
    # diverged on {} / {"j": 1} / multi-key payloads (round-4
    # adversarial probe). Verified identical to Spark's
    # schema_of_variant grammar on empty, multi-key, negative-int,
    # int32-max, JSON-null, and exponent-form double payloads
    # (tests/test_advice_edges.py probes both engines on literals).
    #
    # ORACLE CONTRACT (round-5 ADVICE hardening): props values must be
    # FLAT SCALARS — string / boolean / JSON null / int64-range
    # integer / exponent-form double. Out of contract, Spark stays
    # correct but DuckDB's json_type cannot reproduce the variant
    # grammar: plain decimal-point literals become DECIMAL(p,s) in
    # Spark ('1.5' -> DECIMAL(2,1)) while DuckDB normalizes the
    # literal text away ('0.500' -> 0.5 DOUBLE, unrecoverable);
    # beyond-int64 integers become DECIMAL(20,0) vs DOUBLE; nested
    # objects/arrays print Spark's recursive grammar vs bare
    # 'OBJECT'/'ARRAY'. The driver fixture carries int/string
    # payloads — in contract.
    """SELECT event_id,
              TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k,
              'OBJECT<' || COALESCE((
                 SELECT string_agg(jk || ': ' ||
                   -- COALESCE: DuckDB's json_type with a NON-constant
                   -- path returns SQL NULL (not 'NULL') for JSON null
                   -- values; the key is known to exist (json_keys)
                   CASE COALESCE(json_type(props, '$.' || jk), 'NULL')
                     WHEN 'UBIGINT' THEN 'BIGINT'
                     WHEN 'BIGINT' THEN 'BIGINT'
                     WHEN 'VARCHAR' THEN 'STRING'
                     WHEN 'DOUBLE' THEN 'DOUBLE'
                     WHEN 'BOOLEAN' THEN 'BOOLEAN'
                     WHEN 'NULL' THEN 'VOID'
                     ELSE json_type(props, '$.' || jk) END,
                   ', ' ORDER BY jk)
                 FROM unnest(json_keys(props)) AS jt(jk)), '') || '>'
                AS vschema
       FROM events""",
)
def json_variant_extract(spark: SparkSession, d: str) -> DataFrame:
    """Spark 4 VARIANT ingestion [EXT: semi-structured at scale]:
    parse_json → an open-schema binary VARIANT column, typed path
    extraction with variant_get and runtime shape via
    schema_of_variant. Unlike from_json, VARIANT defers the schema to
    read time while staying columnar-shreddable at rest — the
    parse + extract is a narrow map (no shuffle). The oracle mirrors
    the path extraction and pins the discovered shape as a literal."""
    e = t(spark, d, "events")
    # try_parse_json (r12 extremes probe): Spark's VARIANT spec REJECTS
    # duplicate-key objects (parse_json raises VARIANT_DUPLICATE_KEY —
    # a stage-kill from one hostile payload at 100 TB); try_ maps such
    # payloads to a NULL variant (k and vschema NULL). Duplicate-key
    # payloads are out of the oracle contract either way (DuckDB
    # resolves them per-path instead of rejecting).
    v = F.try_parse_json("props")
    return e.select(
        "event_id",
        # try_variant_get + BIGINT (r12 extremes probe): the former
        # variant_get(..., "int") threw INVALID_VARIANT_CAST on any
        # int64-range payload past int32 — in the documented flat-
        # scalar contract. try semantics NULL the >int64 DECIMAL(20,0)
        # payloads identically to the oracle's TRY_CAST.
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.schema_of_variant(v).alias("vschema"),
    )


@op(
    "math_try_overflow",
    """SELECT o_orderkey,
              CASE WHEN o_orderkey <= 1023
                   THEN o_orderkey * 9007199254740992 END AS mul_53,
              CASE WHEN o_orderkey <= 30000
                   THEN o_orderkey + 9223372036854745807 END AS add_max,
              o_totalprice / NULLIF(o_orderkey % 7, 0) AS div_guard
       FROM orders""",
)
def math_try_overflow(spark: SparkSession, d: str) -> DataFrame:
    """ANSI-safe arithmetic [EXT: Spark 4 ANSI mode]: try_multiply /
    try_add return NULL on BIGINT overflow instead of failing the job,
    try_divide NULLs division by zero. At 100 TB one poisoned row must
    not kill a 1000-executor stage. The oracle reproduces the overflow
    boundary analytically (2^63-1 bounds) since DuckDB errors on
    overflow rather than NULLing."""
    o = t(spark, d, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.try_multiply(k, F.lit(9007199254740992).cast("long")).alias("mul_53"),
        F.try_add(k, F.lit(9223372036854745807).cast("long")).alias("add_max"),
        F.try_divide(F.col("o_totalprice"), k % 7).alias("div_guard"),
    )


@op(
    "str_collate_ci",
    # the mixed-case construction upper() is ASCII-GATED: Java
    # upper('ß')='SS' but DuckDB upper('ß')='ẞ' (U+1E9E), so an
    # unconditional upper() diverges BEFORE any collation compares
    # (round-5 adversarial probe, surfaced by the \N pool re-pairing).
    # Non-ASCII names pass through unmodified; the lower()-fold oracle
    # bridge is EXACT only for ASCII. Off-ASCII it is approximate:
    # Spark UNICODE_CI (ICU) equates pairs like 'σ'/'ς' (final sigma)
    # and 'ﬁ'/'fi' (ligature) that DuckDB lower() does not (measured —
    # 'ß'/'SS' does NOT diverge on this build). Such pairs are out of
    # contract (canary-pinned in tests/test_advice_edges.py) and
    # absent from the fixture pool. The gate anchors \A..\z like
    # str_levenshtein_link's (r9 probe): Java's ^..$ classifies a name
    # with a FINAL U+0085/U+2028/U+2029 as ASCII (the $ matches before
    # the terminator) while RE2's does not, flipping the upper() arm
    # one-sided.
    """WITH m AS (SELECT p_brand,
                         CASE WHEN p_partkey % 2 = 0
                                   AND regexp_matches(p_name, '\\A[\\x00-\\x7F]*\\z')
                              THEN upper(p_name)
                              ELSE p_name END AS name_mixed
                  FROM part)
       SELECT p_brand,
              COUNT(DISTINCT lower(name_mixed)) AS n_ci,
              COUNT(DISTINCT name_mixed) AS n_cs
       FROM m GROUP BY p_brand""",
)
def str_collate_ci(spark: SparkSession, d: str) -> DataFrame:
    """Spark 4 string collations [EXT]: UNICODE_CI makes equality,
    DISTINCT, and joins case-insensitive in the engine (collation-aware
    hashing/codegen) instead of wrapping every operand in lower() — at
    scale that keeps the optimizer's statistics and pushdowns on the
    raw column. Distinct-count under UNICODE_CI vs binary collation;
    oracle mirrors with lower(). Contract: the case-flip half of the
    fixture is ASCII-gated (see oracle comment — Java and DuckDB
    upper() disagree on ß), and for ASCII strings UNICODE_CI equality
    coincides with lower()-fold equality, so the bridge is exact."""
    p = t(spark, d, "part")
    is_ascii = F.col("p_name").rlike(r"\A[\x00-\x7F]*\z")
    mixed = F.when(
        (F.col("p_partkey") % 2 == 0) & is_ascii, F.upper("p_name")
    ).otherwise(F.col("p_name"))
    return (
        p.select("p_brand", mixed.alias("name_mixed"))
        .groupBy("p_brand")
        .agg(
            F.count_distinct(F.collate(F.col("name_mixed"), "UNICODE_CI")).alias("n_ci"),
            F.count_distinct(F.col("name_mixed")).alias("n_cs"),
        )
    )


@op(
    "xml_roundtrip_builtin",
    # the oracle mirrors the writer's XML-invalid-char sanitization
    # (see docstring): XML 1.0 cannot represent U+0000-U+0008/U+000B/
    # U+000C/U+000E-U+001F even as character references, nor the
    # U+FFFE/U+FFFF noncharacters its Char production excludes (r10
    # ADVICE; literal characters in the class — identical in RE2 and
    # Java), so the round trip maps them to U+FFFD on both sides
    # (r9 NUL-pool probe).
    """SELECT c_custkey AS xkey,
              regexp_replace(c_mktsegment,
                             '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F￾￿]',
                             '�', 'g') AS seg,
              c_nationkey AS nat
       FROM customer""",
)
def xml_roundtrip_builtin(spark: SparkSession, d: str) -> DataFrame:
    """Native XML parsing [EXT: Spark 4 from_xml builtin — no external
    spark-xml jar, no UDF]: serialize each customer row to an XML
    fragment in-plan, parse it back through from_xml against an
    explicit schema, and project the typed fields. Complements
    scan_xml_flatten (file-level mapInPandas flatten) with the
    expression-level path; fully codegen'd narrow map. Oracle is the
    identity projection — the round trip must be lossless for
    ARBITRARY text, which takes two things the friendly fixture never
    exercised (found by the round-4 adversarial-fixture probe): XML
    entity escaping of &/</> before serializing, and
    ignoreSurroundingSpaces=false so whitespace-significant strings
    ('  double  spaced  ') survive the parse."""
    c = t(spark, d, "customer")
    # from_xml matches fields by element name — serialize with the
    # target field names so the parsed struct needs no renames.
    # "ARBITRARY text" has one spec-level carve-out (r9 NUL-pool
    # probe + r10 ADVICE): XML 1.0 forbids the C0 controls other than
    # \t\n\r even as character references, AND the U+FFFE/U+FFFF
    # noncharacters its Char production excludes, so the writer maps
    # them to U+FFFD — the standard total-exporter convention — and
    # the oracle mirrors.
    sane = F.regexp_replace(
        F.col("c_mktsegment"), r"[\x00-\x08\x0B\x0C\x0E-\x1F￾￿]", "�"
    )
    esc = F.replace(
        F.replace(
            F.replace(sane, F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    xml = F.concat(
        F.lit("<cust><xkey>"),
        F.col("c_custkey").cast("string"),
        F.lit("</xkey><seg>"),
        esc,
        F.lit("</seg><nat>"),
        F.col("c_nationkey").cast("string"),
        F.lit("</nat></cust>"),
    )
    parsed = F.from_xml(
        xml,
        "xkey BIGINT, seg STRING, nat BIGINT",
        {"ignoreSurroundingSpaces": "false"},
    )
    return c.select(
        parsed["xkey"].alias("xkey"),
        parsed["seg"].alias("seg"),
        parsed["nat"].alias("nat"),
    )


@op(
    "json_variant_explode",
    """SELECT event_id, CAST(0 AS INTEGER) AS pos, event_id % 7 AS elem FROM events
       UNION ALL
       SELECT event_id, CAST(1 AS INTEGER), event_id % 11 FROM events
       UNION ALL
       SELECT event_id, CAST(2 AS INTEGER), event_id % 13 FROM events""",
)
def json_variant_explode(spark: SparkSession, d: str) -> DataFrame:
    """VARIANT array expansion via the variant_explode table function
    (Spark 4) [EXT: semi-structured arrays without a declared schema]:
    a JSON array assembled in-plan parses to VARIANT and laterally
    explodes to (pos, value) rows with open typing — the
    schema-on-read complement to from_json+explode for arrays whose
    shape isn't known at compile time. The oracle reproduces the
    positions and values relationally."""
    t(spark, d, "events").createOrReplaceTempView("vexp_events")
    return spark.sql(
        """SELECT event_id, v.pos, CAST(v.value AS BIGINT) AS elem
           FROM vexp_events,
                LATERAL variant_explode(parse_json(
                  concat('[', event_id % 7, ',', event_id % 11, ',',
                         event_id % 13, ']'))) v"""
    )


@op(
    "str_regexp_extract_all",
    """SELECT p_partkey,
              COALESCE(array_to_string(regexp_extract_all(p_name, '[a-z]{6,}'),
                                       ','), '') AS long_words,
              len(regexp_extract_all(p_name, '[a-z]{6,}')) AS n_long
       FROM part""",
)
def str_regexp_extract_all(spark: SparkSession, d: str) -> DataFrame:
    """regexp_extract_all: every match as an array (left-to-right
    order is deterministic in both engines), joined to a string plus a
    match count [REF*: cleansing/tokenization]."""
    p = t(spark, d, "part")
    matches = F.regexp_extract_all("p_name", F.lit("[a-z]{6,}"), 0)
    return p.select(
        "p_partkey",
        F.array_join(matches, ",").alias("long_words"),
        F.size(matches).cast("bigint").alias("n_long"),
    )
