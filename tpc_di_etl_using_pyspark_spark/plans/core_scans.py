"""SURVEY §2.A scans/sources/sinks.

Non-parquet source ops generate their raw-file fixtures from the parquet
test tables into a scratch dir (FIXTURES.md "auxiliary raw-file
fixtures"), then prove round-trip parity against the original table via
the DuckDB oracle — a stronger check than rows-only.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sources.fixedwidth import read_fixed_width
from ..sources.xmlflatten import flatten_customer_mgmt
from ._util import t
from .registry import op


def _scratch(d: str, op: str) -> str:
    # pid-scoped: two engine processes on one machine (e.g. a bench run
    # next to a pytest run) must not overwrite each other's write-then-
    # read-back fixtures mid-read. On a cluster this path would be a
    # per-application object-store prefix; the pid plays that role here.
    tag = os.path.basename(os.path.normpath(d)) or "sf"
    path = f"/tmp/spark_graft_scratch/p{os.getpid()}/{tag}/{op}"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


@op(
    "scan_parquet",
    "SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date "
    "FROM lineitem WHERE l_quantity > 30",
)
def scan_parquet(spark: SparkSession, d: str) -> DataFrame:
    """Columnar parquet scan with pruning + pushdown (driver test tables, TESTDATA.md)."""
    # Projection + predicate reach the parquet scan (PushedFilters /
    # ReadSchema — verified in tests/test_plans.py).
    return (
        t(spark, d, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
    )


# Lossless CSV round-trip options (round-4 adversarial probe): Spark's
# CSV WRITER trims leading/trailing whitespace BY DEFAULT
# (ignoreLeading/TrailingWhiteSpace default true on write, false on
# read), and the reader maps empty fields to NULL — so whitespace-
# significant strings silently lost spaces and '' flipped to NULL on
# the round trip. A \N null sentinel keeps ''/NULL distinguishable.
#
# The sentinel alone COLLIDES with data: a string field whose actual
# value is the two characters \N writes the same bytes as NULL (and
# quoteAll does not help — Spark's writer emits identical escaped
# bytes for both; probed empirically, round-5 ADVICE hardening). The
# fix is the MySQL LOAD DATA convention: double every literal
# backslash on write (_bs_escape) and halve on read (_bs_unescape).
# Backslash-doubling is injective and its image never equals the
# one-backslash \N sentinel, so literal '\N', '\\N', a lone '\', etc.
# all round-trip exactly (adversarial STR pool carries '\N').
_CSV_LOSSLESS = {
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
    "nullValue": "\\N",
}


def _bs_map(df: DataFrame, pat: str, rep: str) -> DataFrame:
    return df.select(
        *[
            F.replace(F.col(f.name), F.lit(pat), F.lit(rep)).alias(f.name)
            if f.dataType.typeName() == "string"
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def _bs_escape(df: DataFrame) -> DataFrame:
    """Double literal backslashes in every string column before a CSV
    write under _CSV_LOSSLESS (MySQL-convention NULL disambiguation)."""
    return _bs_map(df, "\\", "\\\\")


def _bs_unescape(df: DataFrame) -> DataFrame:
    """Inverse of _bs_escape after a CSV read under _CSV_LOSSLESS."""
    return _bs_map(df, "\\\\", "\\")


@op("scan_csv_delim", "SELECT * FROM nation")
def scan_csv_delim(spark: SparkSession, d: str) -> DataFrame:
    """Pipe-delimited text, explicit schema [SPEC: flat-file extracts] —
    round-trip must equal the parquet table exactly (incl. whitespace
    and empty-vs-NULL: see _CSV_LOSSLESS)."""
    path = _scratch(d, "nation_pipe")
    _bs_escape(t(spark, d, "nation")).write.mode("overwrite").options(
        **_CSV_LOSSLESS
    ).csv(path, sep="|", header=False)
    return _bs_unescape(
        spark.read.options(**_CSV_LOSSLESS).csv(
            path, sep="|", header=False, schema=schemas.NATION
        )
    )


@op("scan_csv_header", "SELECT * FROM customer")
def scan_csv_header(spark: SparkSession, d: str) -> DataFrame:
    """Header CSV with typed read [SPEC: Prospect.csv/HR.csv];
    whitespace/NULL-lossless round trip (_CSV_LOSSLESS)."""
    path = _scratch(d, "customer_csv")
    _bs_escape(t(spark, d, "customer")).write.mode("overwrite").options(
        **_CSV_LOSSLESS
    ).csv(path, header=True)
    return _bs_unescape(
        spark.read.options(**_CSV_LOSSLESS).csv(
            path, header=True, schema=schemas.CUSTOMER
        )
    )


@op(
    "scan_text_fixedwidth",
    """SELECT 'CMP' AS rec_type, rtrim(substring(p_name, 1, 60)) AS company_name,
              p_partkey % 10000000000 AS cik, '20100101-120000' AS pts
       FROM part""",
)
def scan_text_fixedwidth(spark: SparkSession, d: str) -> DataFrame:
    """FINWIRE fixed-width parse [SPEC: CMP record layout]: generate
    CMP lines from `part`, slice back by offset, reproduce the rows.

    The char(10) CIK field carries the key's mod-1e10 residue — the
    same convention as the tpcdi dim builders' char-width fields —
    instead of letting lpad silently truncate an 11+-digit id to its
    leftmost 10 chars (r12 extremes probe; SURVEY §7.4o). Writer and
    oracle reduce identically, so the field stays a pure
    zero-padded residue at any key scale."""
    path = _scratch(d, "finwire_cmp")
    part = t(spark, d, "part")
    line = F.concat(
        F.lit("20100101-120000"),  # PTS char(15)
        F.lit("CMP"),  # RecType char(3)
        F.rpad(F.substring("p_name", 1, 60), 60, " "),  # CompanyName char(60)
        # CIK char(10): mod-1e10 residue, never a truncated id
        F.lpad((F.col("p_partkey") % 10_000_000_000).cast("string"), 10, "0"),
    )
    part.select(line.alias("value")).write.mode("overwrite").text(path)
    cmp_layout = [
        ("pts", 0, 15),
        ("rec_type", 15, 3),
        ("company_name", 18, 60),
        ("cik", 78, 10),
    ]
    parsed = read_fixed_width(spark, path, {"CMP": cmp_layout})["CMP"]
    return parsed.select(
        "rec_type",
        "company_name",
        F.col("cik").cast("bigint").alias("cik"),
        "pts",
    )


@op(
    "scan_xml_flatten",
    # c_last mirrors the writer's XML-invalid-char sanitization: XML
    # 1.0 cannot represent U+0000-U+0008/U+000B/U+000C/U+000E-U+001F
    # even as character references (ET.fromstring throws "not
    # well-formed"), nor the U+FFFE/U+FFFF noncharacters its Char
    # production excludes (r10 ADVICE), so the writer maps them to
    # U+FFFD (r9 NUL-pool probe; noncharacters appear below as literal
    # characters in the class — identical in RE2 and Java).
    """SELECT CASE c_custkey % 3 WHEN 0 THEN 'NEW' WHEN 1 THEN 'UPDCUST'
              ELSE 'ADDACCT' END AS action_type,
              c_custkey AS c_id,
              regexp_replace(c_name,
                             '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F￾￿]',
                             '�', 'g') AS c_last,
              (c_custkey % 922337203685477580) * 10 AS acct_id,
              CAST(c_custkey % 3 AS INTEGER) AS acct_tax_status
       FROM customer""",
)
def scan_xml_flatten(spark: SparkSession, d: str) -> DataFrame:
    """CustomerMgmt XML flatten [SPEC: Action/Customer/Account nesting].

    Fixture: one XML doc generated from `customer` (dimension-sized,
    bounded); the mapInPandas ElementTree flatten must reproduce one
    typed row per Action.
    """
    path = _scratch(d, "customer_mgmt_xml")
    # Fixture generation is fully distributed: each of 8 hash buckets
    # aggregates its rows into one well-formed <Actions> document and
    # write.text emits them in parallel — no driver-side collect, so
    # the generator itself survives a 100× dimension scale-up (TPC-DI
    # ships one CustomerMgmt.xml per batch; bucket ≈ batch here).
    cust = t(spark, d, "customer").select("c_custkey", "c_name")
    # XML-invalid characters — the C0 controls below U+0020 except
    # \t\n\r, plus the U+FFFE/U+FFFF noncharacters XML 1.0's Char
    # production excludes (r10 ADVICE) — cannot appear in XML 1.0 AT
    # ALL, not even as &#N; references, so the writer maps them to
    # U+FFFD first (the total-exporter convention; oracle mirrors —
    # r9 NUL-pool probe, where a raw NUL made ET.fromstring throw and
    # would kill the stage at 100 TB).
    esc = F.regexp_replace(
        F.col("c_name"), r"[\x00-\x08\x0B\x0C\x0E-\x1F￾￿]", "�"
    )
    # tab/newline/CR must be CHARACTER REFERENCES in attribute values:
    # XML attribute-value normalization (spec §3.3.3) turns literal
    # whitespace into plain spaces on ANY conformant parse, but
    # references survive — round-4 adversarial probe caught a tab
    # silently becoming a space on the round trip.
    for raw, ent in [
        ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"),
        ("\t", "&#9;"), ("\n", "&#10;"), ("\r", "&#13;"),
    ]:
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    a_type = F.element_at(
        F.array(F.lit("NEW"), F.lit("UPDCUST"), F.lit("ADDACCT")),
        (F.col("c_custkey") % 3 + 1).cast("int"),
    )
    elem = F.concat(
        F.lit('<Action type="'), a_type, F.lit('" ts="2015-01-01T00:00:00">'),
        F.lit('<Customer id="'), F.col("c_custkey").cast("string"),
        F.lit('" taxId="T'), F.lpad(F.col("c_custkey").cast("string"), 9, "0"),
        F.lit('"><Name last="'), esc, F.lit('"/>'),
        # acct_id pre-reduces the key mod floor(2^63/10) so the *10
        # cannot overflow at hash-scale ids (r12 extremes probe: the
        # raw product stage-killed under ANSI at ids near int64 max;
        # bit-identical wherever the naive form didn't overflow;
        # oracle mirrors the CASE)
        F.lit('<Account id="'),
        ((F.col("c_custkey") % 922337203685477580) * 10).cast("string"),
        F.lit('" taxStatus="'), (F.col("c_custkey") % 3).cast("string"),
        F.lit('"/></Customer></Action>'),
    )
    (
        cust.select((F.col("c_custkey") % 8).alias("bucket"), elem.alias("elem"))
        .groupBy("bucket")
        .agg(
            F.concat(
                F.lit("<Actions>"),
                F.concat_ws("", F.collect_list("elem")),
                F.lit("</Actions>"),
            ).alias("doc")
        )
        .write.mode("overwrite")
        .partitionBy("bucket")  # one file per bucket → one XML doc per file
        .text(path)
    )
    # read the (always-present) ROOT, not a bucket=*/part-* glob: an
    # empty input slice writes zero bucket dirs and a glob then throws
    # PATH_NOT_FOUND (r11 empty-slice sweep). Partition discovery adds
    # a harmless `bucket` column; _SUCCESS markers are filtered by the
    # file index as hidden.
    flat = flatten_customer_mgmt(spark, path)
    return flat.select("action_type", "c_id", "c_last", "acct_id", "acct_tax_status")


@op(
    "sink_parquet",
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
    "WHERE l_returnflag = 'R'",
)
def sink_parquet(spark: SparkSession, d: str) -> DataFrame:
    """Parquet sink with read-back [REF*: warehouse persistence]."""
    path = _scratch(d, "sink_parquet")
    (
        t(spark, d, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


@op(
    "sink_partitioned",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, COUNT(*) AS n_orders
       FROM orders GROUP BY 1""",
)
def sink_partitioned(spark: SparkSession, d: str) -> DataFrame:
    """Partitioned warehouse write [REF*: batch-partitioned loads]:
    write partitioned by year, read back with the writer's explicit
    schema (an empty input slice writes zero part files; schema
    inference on the read-back would throw UNABLE_TO_INFER_SCHEMA —
    r11 empty-slice sweep)."""
    path = _scratch(d, "sink_partitioned")
    src = t(spark, d, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    src.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.schema(src.schema).parquet(path)
    return back.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@op(
    "sink_table_overwrite_append",
    """SELECT o_orderstatus, COUNT(*) AS n FROM orders
       WHERE o_orderstatus IN ('F', 'O') GROUP BY o_orderstatus""",
)
def sink_table_overwrite_append(spark: SparkSession, d: str) -> DataFrame:
    """Historical load = overwrite, incremental = append [SPEC: batch
    load semantics]: final table content is the union."""
    path = _scratch(d, "sink_hist_incr")
    o = t(spark, d, "orders").select("o_orderkey", "o_orderstatus")
    o.filter(F.col("o_orderstatus") == "F").write.mode("overwrite").parquet(path)
    o.filter(F.col("o_orderstatus") == "O").write.mode("append").parquet(path)
    return spark.read.parquet(path).groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@op("sink_bucketed", "SELECT * FROM orders")
def sink_bucketed(spark: SparkSession, d: str) -> DataFrame:
    """Bucketed table sink [100 TB posture: pre-shuffled storage — two
    tables bucketed by the same key join with NO exchange on either
    side (verified in tests/test_plans.py)]. External path keeps the
    driver's warehouse dir untouched; catalog entry is session-scoped."""
    path = _scratch(d, "orders_bucketed")
    tag = os.path.basename(os.path.normpath(d)).replace(".", "_")
    tbl = f"orders_bucketed_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        t(spark, d, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", path)
        .format("parquet")
        .saveAsTable(tbl)
    )
    return spark.table(tbl)


@op(
    "scan_jsonl",
    "SELECT event_id, user_id, event_type, value, props FROM events",
)
def scan_jsonl(spark: SparkSession, d: str) -> DataFrame:
    """JSON-lines source with explicit schema (no inference scan) —
    the interchange format most LLM-corpus pipelines ingest. Round-trip
    must reproduce the source table exactly (ts omitted: JSON text
    carries no ns precision)."""
    path = _scratch(d, "events_jsonl")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    t(spark, d, "events").select(*cols).write.mode("overwrite").json(path)
    schema = "event_id long, user_id long, event_type string, value double, props string"
    return spark.read.json(path, schema=schema).select(*cols)


@op("scan_orc", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_orc(spark: SparkSession, d: str) -> DataFrame:
    """ORC columnar source (the other first-class columnar format —
    same pushdown/pruning machinery as parquet): write nation as ORC,
    read back, round-trip must equal the source table."""
    path = _scratch(d, "nation_orc")
    t(spark, d, "nation").write.mode("overwrite").orc(path)
    return spark.read.orc(path).select("n_nationkey", "n_name", "n_regionkey")


@op(
    "scan_csv_malformed",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
              CAST(5 AS BIGINT) AS n_corrupt
       FROM nation""",
)
def scan_csv_malformed(spark: SparkSession, d: str) -> DataFrame:
    """PERMISSIVE schema-on-read [SPEC: DQ rules route bad source rows
    to DImessages, not to job failure]: a CSV with 5 deliberately
    malformed lines parses into typed rows + a corrupt-record column;
    the op reports good/corrupt counts. At scale this is the difference
    between quarantining bad records and losing the batch."""
    path = _scratch(d, "nation_malformed")
    n = t(spark, d, "nation")
    # The writer DELIMITER-SANITIZES n_name (any real fixed-delimiter
    # export must — cf. scan_csv_multichar_delim's format contract):
    # an unescaped mid-'|' name splits into 4 tokens, producing a row
    # whose good/corrupt classification depends on CSV parser column
    # pruning — Spark's documented PERMISSIVE semantics validate only
    # the QUERIED columns, so the count silently flips when an
    # optimizer config changes which columns reach the parser (found
    # by the r9 Catalyst rule-ablation sweep: ColumnPruning excluded →
    # full-row validation → 24/6 vs the certified 25/5). With the
    # delimiter sanitized, every good row is valid in EVERY column and
    # the quarantine counts are pruning-independent.
    good = n.select(
        F.concat_ws(
            "|",
            F.col("n_nationkey").cast("string"),
            F.translate("n_name", "|", "/"),
            F.col("n_regionkey").cast("string"),
        ).alias("value")
    )
    bad = spark.range(5).select(
        F.concat(F.lit("not_an_int|MALFORMED_"), F.col("id").cast("string")).alias(
            "value"
        )
    )
    good.unionByName(bad).write.mode("overwrite").text(path)
    schema = (
        "n_nationkey int, n_name string, n_regionkey int, _corrupt string"
    )
    parsed = spark.read.csv(
        path,
        sep="|",
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    # Spark refuses plans referencing ONLY the corrupt-record column
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    # parsed data column in the same aggregate satisfies the rule
    return parsed.agg(
        F.count(F.when(F.col("_corrupt").isNull() & F.col("n_nationkey").isNotNull(), 1)).alias(
            "n_good"
        ),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
    )


@op(
    "scan_schema_evolution",
    """SELECT o_orderkey, o_totalprice,
              CASE WHEN o_orderkey % 2 = 0 THEN NULL
                   ELSE o_orderpriority END AS priority
       FROM orders""",
)
def scan_schema_evolution(spark: SparkSession, d: str) -> DataFrame:
    """Schema evolution on read [PK: parquet mergeSchema]: an old batch
    written without the `priority` column and a new batch with it are
    read as ONE relation — mergeSchema unions the footers and
    null-fills the missing column. The batch layout (one dir per
    batch) is exactly TPC-DI's incremental-load file shape."""
    path = _scratch(d, "evolving")
    o = t(spark, d, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", F.col("o_orderpriority").alias("priority")
    )
    old.write.mode("overwrite").parquet(path + "/batch=1")
    new.write.mode("overwrite").parquet(path + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/batch=1", path + "/batch=2"
    )
    return merged.select("o_orderkey", "o_totalprice", "priority")


@op(
    "sink_sorted_clustered",
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
       FROM lineitem WHERE l_returnflag = 'A'""",
)
def sink_sorted_clustered(spark: SparkSession, d: str) -> DataFrame:
    """Clustered write [PK: sortWithinPartitions before the sink]: rows
    are sorted by l_shipdate inside each output file so parquet
    row-group min/max stats become selective — date-range scans over
    the written table prune row groups (zone-map effect) without any
    global sort. Read back and verified against the source."""
    path = _scratch(d, "clustered_sink")
    li = t(spark, d, "lineitem").filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    li.sortWithinPartitions("l_shipdate").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@op(
    "scan_binaryfile",
    """SELECT doc_id,
              CAST(strlen(text) + 1 AS BIGINT) AS n_bytes,
              sha256(text || chr(10)) AS sha
       FROM documents WHERE doc_id < 64""",
)
def scan_binaryfile(spark: SparkSession, d: str) -> DataFrame:
    """Whole-file binary source (`binaryFile`) [EXT: the ingest shape
    for multimodal corpora — images/audio land as one opaque binary
    row per object, metadata from the path].

    Fixture: 64 documents written one-file-per-doc distributively
    (partitionBy doc_id, no driver collect). The read-back proves the
    (path, length, content) contract: doc id recovered from the path,
    byte length, and a content digest that must equal sha256 of the
    source text (+ the text sink's trailing newline) computed by the
    oracle from the original table — a round-trip check, not a
    rows-only count. At 100 TB binaryFile scans parallelize per file
    and never materialize more than one object per task."""
    path = _scratch(d, "binary_docs")
    doc = t(spark, d, "documents").filter(F.col("doc_id") < 64)
    (
        doc.select("doc_id", "text")
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(path)
    )
    # pathGlobFilter instead of a path glob: a glob over an empty
    # write (zero doc_id=* dirs) throws PATH_NOT_FOUND, while loading
    # the (always-present) root with the filter returns an empty
    # relation — binaryFile's schema is fixed, so no inference risk
    # (r11 empty-slice sweep)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(path)
    )
    return raw.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.lower(F.sha2("content", 256)).alias("sha"),
    )


@op(
    "scan_partition_pruned",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                AS sum_price
       FROM orders WHERE year(o_orderdate) >= 2000
       GROUP BY 1""",
)
def scan_partition_pruned(spark: SparkSession, d: str) -> DataFrame:
    """Partition-pruned scan [PK: hive-layout directory pruning — the
    single biggest IO lever at 100 TB: a year-filtered query over a
    year-partitioned table must list and read ONLY the matching
    directories, never the other ~95% of the data].

    Writes orders partitioned by o_year (hive layout), reads back with
    a partition-column predicate; the plan's PartitionFilters (and a
    partition count below the total — asserted in test_plans) prove
    the filter was applied at file listing, not per row after a full
    scan.

    The read-back carries the writer's EXPLICIT schema (r11
    empty-slice sweep): an empty input slice writes zero part files
    and schema INFERENCE on the read-back then throws
    UNABLE_TO_INFER_SCHEMA — one empty date-slice must not kill the
    job. Explicit schema also pins the partition-column type instead
    of directory-name inference."""
    path = _scratch(d, "orders_by_year")
    src = t(spark, d, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    src.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = (
        spark.read.schema(src.schema)
        .parquet(path)
        .filter(F.col("o_year") >= 2000)
    )
    return back.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@op(
    "scan_python_datasource",
    """SELECT 'CMP' AS rec_type, rtrim(substring(p_name, 1, 60)) AS company_name,
              p_partkey % 10000000000 AS cik, '20100101-120000' AS pts
       FROM part""",
)
def scan_python_datasource(spark: SparkSession, d: str) -> DataFrame:
    """User-defined Python DataSource (Spark 4 connector API,
    sources/pyds_finwire.py): FINWIRE CMP fixture read through
    ``spark.read.format("finwire_cmp")`` — partition planning in
    ``partitions()`` (one per file), Arrow-batched per-partition
    generators on executors. The connector-surface complement to
    scan_text_fixedwidth's expression-sliced fast path; must reproduce
    the same rows."""
    from ..sources.pyds_finwire import FinwireCmpDataSource

    path = _scratch(d, "finwire_pyds")
    part = t(spark, d, "part")  # also ships the package to executors
    # CIK char(10) carries the mod-1e10 residue (r14, pinned in
    # tests/test_r14_prep.py; same convention as scan_text_fixedwidth
    # and the tpcdi dim builders) instead of letting lpad silently
    # keep the LEFTMOST 10 chars of an 11+-digit id; oracle mirrored,
    # identical for p_partkey < 1e10
    line = F.concat(
        F.lit("20100101-120000"),
        F.lit("CMP"),
        F.rpad(F.substring("p_name", 1, 60), 60, " "),
        F.lpad((F.col("p_partkey") % 10_000_000_000).cast("string"), 10, "0"),
    )
    # 4 fixture files → 4 InputPartitions: the partition planning in
    # FinwireCmpReader.partitions() is what the plan test asserts
    part.select(line.alias("value")).repartition(4).write.mode("overwrite").text(path)
    spark.dataSource.register(FinwireCmpDataSource)
    raw = spark.read.format("finwire_cmp").option("path", path).load()
    return raw.select(
        "rec_type",
        "company_name",
        F.col("cik").cast("bigint").alias("cik"),
        "pts",
    )


@op(
    "join_dpp_partitioned",
    """SELECT o_orderkey, o_totalprice, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y
       FROM orders WHERE EXTRACT(year FROM o_orderdate) % 3 = 1""",
)
def join_dpp_partitioned(spark: SparkSession, d: str) -> DataFrame:
    """Dynamic partition pruning [PK: SPARK-11150]: a year-partitioned
    fact joined to a dimension filtered on a NON-partition attribute —
    the partition list is only known at runtime, so the optimizer
    plants a dynamicpruning subquery in the fact scan's
    PartitionFilters and reuses the dim's broadcast to skip whole
    partitions at execution. At 100 TB this skips entire directory
    subtrees, the same lever as scan_partition_pruned but driven by
    join results instead of a literal predicate. Asserted in
    tests/test_plans.py."""
    path = _scratch(d, "orders_by_year_dpp")
    o = t(spark, d, "orders").withColumn("y", F.year("o_orderdate"))
    o.write.mode("overwrite").partitionBy("y").parquet(path)
    # explicit schema: an empty slice writes zero part files and
    # read-back inference throws (r11 empty-slice sweep); DPP planting
    # is unaffected (asserted in test_plans)
    fact = spark.read.schema(o.schema).parquet(path)
    # dim: one row per year PRESENT IN THE DATA with a derived
    # attribute; the filter is on the attribute, so static pruning
    # can't see the year list. Deriving the dim from the fact's year
    # domain (rather than a pinned literal range, which silently
    # dropped out-of-range years — round-4 adversarial probe) keeps
    # the op total over any date domain; it stays broadcast-sized
    # because a year dimension is bounded by the calendar.
    dim = (
        o.select(F.col("y").alias("dim_y"))
        .distinct()
        .select("dim_y", (F.col("dim_y") % 3).cast("long").alias("attr"))
    )
    return (
        fact.join(F.broadcast(dim), fact["y"] == dim["dim_y"])
        .filter(F.col("attr") == 1)
        .select("o_orderkey", "o_totalprice", "y")
    )


@op("scan_csv_multichar_delim", "SELECT * FROM nation")
def scan_csv_multichar_delim(spark: SparkSession, d: str) -> DataFrame:
    """Multi-character delimiter CSV (Spark 3.0+/4, SPARK-24540): real
    exports often use '||' to dodge in-field pipes. Lines are
    assembled in-plan and read back with sep='||' + explicit schema;
    round trip must equal the parquet table exactly. Format contract
    (inherent to UNQUOTED multichar-delim exports): fields must be
    non-empty and must not end with the delimiter's first character —
    '15||||0' is ambiguous to any parser (round-4 adversarial probe);
    quoted single-char CSV (scan_csv_delim) is the lossless path for
    such values."""
    path = _scratch(d, "nation_dpipe")
    # backslash-doubling on write keeps the \N null sentinel
    # unambiguous in this quoteless format too (see _CSV_LOSSLESS)
    n = _bs_escape(t(spark, d, "nation"))
    # hand-assembled lines cannot express quoting, so in-field '||' is
    # out of this export format's contract by construction; whitespace
    # fidelity on read still matters (round-4 adversarial probe).
    # coalesce to the \N sentinel BEFORE concat_ws: concat_ws silently
    # DROPS null operands, so an unguarded NULL field would shift every
    # following field left on read (round-5 ADVICE; latent only because
    # the nation fixture is NULL-free). After _bs_escape, one-backslash
    # \N is unambiguous — no escaped literal can collide with it.
    line = F.concat_ws(
        "||",
        *[
            F.coalesce(F.col(f.name).cast("string"), F.lit("\\N"))
            for f in n.schema.fields
        ],
    )
    n.select(line.alias("value")).write.mode("overwrite").text(path)
    return _bs_unescape(
        spark.read.options(**_CSV_LOSSLESS).csv(
            path, sep="||", header=False, schema=schemas.NATION
        )
    )


@op(
    "sink_csv_quoted",
    """SELECT n_nationkey, n_name || '|x"y' AS tricky FROM nation""",
)
def sink_csv_quoted(spark: SparkSession, d: str) -> DataFrame:
    """CSV quoting round trip: fields containing the delimiter AND the
    quote character must survive write → read with Spark's quoting
    (quote-wrap + escape) — the classic silent-corruption source in
    hand-rolled exporters. Oracle constructs the same adversarial
    values relationally."""
    path = _scratch(d, "nation_quoted")
    n = t(spark, d, "nation").select(
        "n_nationkey", F.concat("n_name", F.lit('|x"y')).alias("tricky")
    )
    _bs_escape(n).write.mode("overwrite").options(**_CSV_LOSSLESS).csv(
        path, sep="|", header=True
    )
    return _bs_unescape(
        spark.read.options(**_CSV_LOSSLESS).csv(
            path, sep="|", header=True, schema="n_nationkey long, tricky string"
        )
    )


@op(
    "scan_recursive_glob",
    """SELECT n_nationkey, n_name FROM nation WHERE n_nationkey % 2 = 0
       UNION ALL
       SELECT n_nationkey, n_name FROM nation WHERE n_nationkey % 2 = 1""",
)
def scan_recursive_glob(spark: SparkSession, d: str) -> DataFrame:
    """Nested data-lake layout ingestion: batches land under arbitrary
    subdirectories (batch=.../shard=...) and recursiveFileLookup=true
    discovers every file without partition-column inference — the
    read-everything posture for layouts that are NOT hive-partitioned.
    Two disjoint slices written two levels deep must union back to the
    full table."""
    base = _scratch(d, "nation_nested")
    n = t(spark, d, "nation").select("n_nationkey", "n_name")
    n.filter(F.col("n_nationkey") % 2 == 0).write.mode("overwrite").parquet(
        f"{base}/batch=1/shard=a"
    )
    n.filter(F.col("n_nationkey") % 2 == 1).write.mode("overwrite").parquet(
        f"{base}/batch=2/shard=b"
    )
    return spark.read.option("recursiveFileLookup", "true").parquet(base)


@op(
    "sink_python_datasource",
    """SELECT o_orderkey, o_orderstatus, o_totalprice
       FROM orders WHERE o_orderkey % 7 = 0""",
)
def sink_python_datasource(spark: SparkSession, d: str) -> DataFrame:
    """User-defined Python DataSource WRITER (Spark 4 connector API,
    sources/pyds_jsonl_sink.py): an orders slice written through
    ``df.write.format("jsonl_manifest")`` — per-partition shards on
    executors, per-task WriterCommitMessages, manifest published
    atomically at commit — then read back via spark.read.json with an
    explicit schema and verified against the manifest row count. The
    write-side complement of scan_python_datasource's reader; doubles
    survive the JSON hop exactly (shortest-roundtrip repr both ways).
    """
    import json as _json
    import shutil as _shutil

    from ..sources.pyds_jsonl_sink import JsonlManifestDataSource

    path = _scratch(d, "jsonl_manifest_sink")
    _shutil.rmtree(path, ignore_errors=True)
    sel = (
        t(spark, d, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    spark.dataSource.register(JsonlManifestDataSource)
    sel.write.format("jsonl_manifest").option("path", path).mode("append").save()
    with open(f"{path}/_MANIFEST.json", encoding="utf-8") as fh:
        manifest = _json.load(fh)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(f"{path}/shard-*.jsonl")
    # the manifest is the commit point: a partial write would show here
    if manifest["n_total"] != back.count():
        raise ValueError(
            f"manifest/readback mismatch: {manifest['n_total']} vs read"
        )
    return back


@op(
    "sink_compact_small_files",
    """SELECT CAST(64 AS BIGINT) AS n_input_files,
              CAST(4 AS BIGINT) AS n_output_files,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(CAST(SUM(CAST(o_orderkey AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS VARCHAR) AS key_checksum
       FROM orders""",
)
def sink_compact_small_files(spark: SparkSession, d: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every long-
    lived lake needs: streaming/incremental writers fragment a table
    into thousands of KB-sized files, and scan throughput collapses
    under per-file open/footer costs until a compaction pass rewrites
    them at the target size [EXT: OPTIMIZE/rewrite_data_files in
    table-format engines].

    The op materializes a deliberately fragmented copy of orders
    (round-robin repartition(64) → exactly 64 part files), compacts it
    with a 4-way coalescing rewrite, and emits the file-count
    before/after plus row count and a key checksum proving the rewrite
    lost nothing. Both file counts are DETERMINISTIC (one parquet part
    per non-empty partition; round-robin leaves none empty at any
    sf ≥ the partition count), so the oracle certifies the compaction
    contract itself, not just the data. The determinism has two config
    preconditions, asserted loudly below so a violation is a diagnosable
    error instead of an oracle hash mystery: ≥64 input rows (no empty
    round-robin partition) and no file-splitting knob such as
    spark.sql.files.maxRecordsPerFile (which would emit >1 part per
    partition — a hostile-config sweep that ever sets it will trip the
    assert, not the parity hash; noted in the verify skill). At 100 TB
    the same plan runs per-partition-directory with a size-based target
    (spark.sql.files.maxRecordsPerFile / maxPartitionBytes), still one
    narrow rewrite with no shuffle beyond the coalesce."""
    o = t(spark, d, "orders")
    frag = _scratch(d, "orders_fragmented")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    n_in = len(glob.glob(os.path.join(frag, "part-*")))
    if n_in != 64:
        raise ValueError(
            f"compaction precondition broken: expected 64 input part files,"
            f" got {n_in} — empty round-robin partition (<64 rows?) or a"
            f" file-splitting conf (maxRecordsPerFile?) is set"
        )
    compacted = _scratch(d, "orders_compacted")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compacted
    )
    n_out = len(glob.glob(os.path.join(compacted, "part-*")))
    if n_out != 4:
        raise ValueError(
            f"compaction precondition broken: expected 4 output part files,"
            f" got {n_out} — a file-splitting conf is fragmenting the"
            f" compacted write"
        )
    back = spark.read.parquet(compacted)
    return back.agg(
        F.lit(n_in).cast("bigint").alias("n_input_files"),
        F.lit(n_out).cast("bigint").alias("n_output_files"),
        F.count(F.lit(1)).alias("n_rows"),
        # exact-digit STRING checksum over a DECIMAL(38,0) sum: a
        # BIGINT sum of hash-scale keys ANSI-overflows Spark-side
        # while DuckDB silently widens to HUGEINT (r12 extremes
        # probe); 38 digits holds ~1e19 rows of int64-max keys,
        # exact in both engines, and the string output keeps the
        # driver canonicalizer on a proven type (no certified op
        # ships a raw DECIMAL column)
        F.sum(F.col("o_orderkey").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("key_checksum"),
    )


@op(
    "sink_merge_upsert",
    # the relational MERGE truth: base rows whose key is not updated,
    # plus the update/insert batch verbatim. Update keys are %40 == 0,
    # so every touched row lands in hash bucket key%8 == 0 — the
    # partition-pruning invariant the Spark side exploits.
    """WITH base AS (
         SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
       upd AS (
         SELECT c_custkey, c_name,
                c_acctbal + CAST(100.0 AS DOUBLE) AS c_acctbal,
                c_mktsegment
         FROM base WHERE c_custkey % 40 = 0),
       ins AS (
         SELECT ((SELECT MAX(c_custkey) FROM base) // 40 + r)
                  % 230584300921369395 * 40 AS c_custkey,
                'NEW#' || CAST(r AS VARCHAR) AS c_name,
                CAST(0.0 AS DOUBLE) AS c_acctbal,
                'MERGED' AS c_mktsegment
         FROM (SELECT unnest(range(1, 4)) AS r)),
       updates AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
       keep AS (
         SELECT b.* FROM base b
         WHERE b.c_custkey NOT IN (SELECT c_custkey FROM updates)),
       merged AS (SELECT * FROM keep UNION ALL SELECT * FROM updates)
       SELECT c_custkey, c_name,
              CAST(c_custkey % 8 AS INTEGER) AS c_bucket,
              c_acctbal, c_mktsegment
       FROM merged""",
)
def sink_merge_upsert(spark: SparkSession, d: str) -> DataFrame:
    """Parquet-native MERGE (upsert) via dynamic partition overwrite
    [SPEC: the TPC-DI incremental-apply surface as a FILE-FORMAT sink —
    tpcdi_cdc_apply / stream_foreachbatch_upsert express the same
    semantics relationally; this op lands them on a partitioned
    parquet table, the pre-lakehouse cluster pattern].

    Shape at 100 TB: (1) the update batch determines the affected
    hash-bucket partitions (here: update keys are %40 == 0, so only
    bucket key%8 == 0 is touched); (2) the TARGET TABLE is read back
    partition-pruned to those buckets via a broadcast semi-join (same
    DPP mechanics as join_dpp_partitioned); (3) kept rows =
    partition-local ANTI-join against the update keys; (4) kept ∪
    updates is written with partitionOverwriteMode=dynamic, replacing
    ONLY the affected partition directories — 7 of 8 buckets are never
    read and never rewritten. localCheckpoint materializes the merged
    rows before the overwrite because a file-source write may not read
    from the path it replaces (on a cluster the same role is played by
    a staging prefix or the transaction log). The conf flip is scoped
    and restored — the driver's session is left untouched."""
    path = _scratch(d, "sink_merge_upsert")
    cols = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_bucket"]
    cust = t(spark, d, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    base = cust.withColumn(
        "c_bucket", (F.col("c_custkey") % 8).cast("int")
    )
    base.write.mode("overwrite").partitionBy("c_bucket").parquet(path)
    # explicit read-back schema throughout: an empty input slice
    # writes zero part files and inference throws (r11 empty-slice
    # sweep)
    tgt_schema = base.schema

    # update batch: existing keys get a balance adjustment (IEEE double
    # add — bit-identical in both engines); three inserts beyond MAX,
    # key-aligned to the same %40 family so they share the bucket
    upd = base.filter(F.col("c_custkey") % 40 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    mx = cust.agg(F.max("c_custkey").alias("mx"))
    ins = (
        spark.range(1, 4)
        .select(F.col("id").alias("r"))
        .crossJoin(F.broadcast(mx))
        .select(
            # quotient pre-reduced mod floor(2^63/40): the *40 cannot ANSI-
            # overflow at an int64-max key (r12 extremes probe); identical
            # for any mx < 2^63-160. At the wrap the synthetic inserts
            # land on small %40==0 keys and the MERGE treats them as
            # updates — same rows in BOTH engines (oracle mirrors the
            # identical expression).
            F.expr("(mx div 40 + r) % 230584300921369395 * 40").alias("c_custkey"),
            F.concat(F.lit("NEW#"), F.col("r").cast("string")).alias("c_name"),
            F.lit(0.0).alias("c_acctbal"),
            F.lit("MERGED").alias("c_mktsegment"),
        )
        .withColumn("c_bucket", (F.col("c_custkey") % 8).cast("int"))
    )
    updates = upd.select(*cols).unionByName(ins.select(*cols))

    # read-modify-write of ONLY the affected partitions
    target = spark.read.schema(tgt_schema).parquet(path)
    affected = updates.select("c_bucket").distinct()
    pruned = target.join(F.broadcast(affected), "c_bucket", "semi")
    kept = pruned.join(updates.select("c_custkey"), "c_custkey", "anti")
    merged = kept.select(*cols).unionByName(updates.select(*cols))
    merged = merged.localCheckpoint()  # materialize before self-overwrite

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(conf_key, "dynamic")
        merged.write.mode("overwrite").partitionBy("c_bucket").parquet(path)
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)

    back = spark.read.schema(tgt_schema).parquet(path)
    return back.select(
        "c_custkey",
        "c_name",
        F.col("c_bucket").cast("int").alias("c_bucket"),
        "c_acctbal",
        "c_mktsegment",
    )
