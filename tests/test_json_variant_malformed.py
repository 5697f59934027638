"""json_variant_extract on malformed JSON payloads: absolute pins for
the payload shapes the r12 extremes suite deliberately leaves out of
full parity — duplicate-key objects and malformed JSON. The r12
switch to try_parse_json made BOTH silently NULL (k IS NULL, vschema
IS NULL) instead of a loud parse error; this file makes that contract
an executable fact so a future fixture change surfaces as an
adjudicated gate flip here rather than a certification mystery.

Cross-engine context (pinned empirically in r12, SURVEY §7.4o): Spark
VARIANT rejects duplicate keys by spec (try_parse_json → NULL
variant), while DuckDB resolves duplicates per-path — so duplicate-key
payloads are OUT of the vschema oracle contract, not a fixable
mismatch. The oracle-side comment stating this rides along with the
op's next scheduled elevation (the text of an oracle is part of the
op's certified hash, and the r13 window is full)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize(
    "payload",
    [
        '{"k": 1, "k": 2}',          # duplicate key — VARIANT spec rejects
        '{"k": 1, "k": 1}',          # duplicate even with equal values
        '{"k": ',                     # truncated object
        "not json at all",            # free text
        '{"k": 1,}',                  # trailing comma
        "",                           # empty string
    ],
)
def test_hostile_payloads_null_both_outputs(spark, payload):
    df = spark.createDataFrame([(1, payload)], "event_id long, props string")
    v = F.try_parse_json("props")
    row = df.select(
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.schema_of_variant(v).alias("vschema"),
    ).collect()[0]
    assert row.k is None, (payload, row)
    assert row.vschema is None, (payload, row)


def test_wellformed_payload_still_extracts(spark):
    """Control: the gate NULLs only hostile payloads — a well-formed
    object keeps the documented flat-scalar contract."""
    df = spark.createDataFrame(
        [(1, '{"k": 42, "s": "x"}')], "event_id long, props string"
    )
    v = F.try_parse_json("props")
    row = df.select(
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.schema_of_variant(v).alias("vschema"),
    ).collect()[0]
    assert row.k == 42
    assert row.vschema == "OBJECT<k: BIGINT, s: STRING>"
