"""Fixed-width multi-record-type text parsing (FINWIRE-shaped).

[SPEC: FINWIRE record layouts — PTS char(15) at offset 0, RecType
char(3) at offset 15, then a type-specific payload]. /root/reference is
empty (SURVEY §0); layouts come from the public TPC-DI spec, abridged
in schemas.py.

Spark-first design: the file is read with ``spark.read.text`` (one row
per line, splittable, scales to any file count) and fields are sliced
with SQL ``substring`` — pure Catalyst expressions, whole-stage codegen,
no Python in the hot path. At 100 TB this is a narrow map over the
scan: no shuffle, predicate pushdown on the discriminator happens
post-slice but before any wide op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Layout = list[tuple[str, int, int]]


def parse_fixed_width(lines: DataFrame, layout: Layout, value_col: str = "value") -> DataFrame:
    """Slice one record layout out of a line DataFrame.

    ``layout`` is [(field, offset, length)] with 0-based offsets.
    Fields are rtrimmed (fixed-width padding) but not typed — callers
    cast with explicit schemas (SURVEY §1.3 schema-on-read).
    """
    # SQL text, not nested F.* calls: one py4j round trip per field
    # instead of about three per function
    return lines.selectExpr(
        *[
            f"rtrim(substring(`{value_col}`, {off + 1}, {length})) AS `{name}`"
            for name, off, length in layout
        ]
    )


def parse_multi_record(
    lines: DataFrame,
    layouts: dict[str, Layout],
    disc_offset: int = 15,
    disc_len: int = 3,
    value_col: str = "value",
) -> dict[str, DataFrame]:
    """Discriminate on the RecType slice and parse each record type with
    its own layout — one scan per type; Catalyst pushes the equality
    filter into the scan so each output reads only its records."""
    disc = F.substring(F.col(value_col), disc_offset + 1, disc_len)
    return {
        rectype: parse_fixed_width(lines.filter(disc == rectype), layout, value_col)
        for rectype, layout in layouts.items()
    }


def read_fixed_width(
    spark: SparkSession, path: str, layouts: dict[str, Layout], **kw
) -> dict[str, DataFrame]:
    """Read FINWIRE-shaped files → {rectype: typed-string DataFrame}."""
    return parse_multi_record(spark.read.text(path), layouts, **kw)
