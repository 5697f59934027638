"""Explicit StructType schemas for text and CSV sources.

Parquet carries its schema in each file's footer: ``plans._util.t()``
infers it from there, once per file per process, and nothing here
restates it. Explicit StructTypes are for sources with no schema of
their own:

1. The delimited-text copies of two driver tables (``NATION``,
   ``CUSTOMER``) that the CSV scan ops in ``plans/core_scans.py`` write
   and read back.
2. TPC-DI-shaped source-file schemas for the parity pipelines in
   ``tpcdi/`` — FINWIRE fixed-width record layouts and the flattened
   CustomerMgmt action schema. [SPEC: TPC-DI v1.1.0 source file
   layouts]; SURVEY.md §0 says why there is no file:line citation.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


NATION = _st(
    ("n_nationkey", IntegerType()),
    ("n_name", StringType()),
    ("n_regionkey", IntegerType()),
)

CUSTOMER = _st(
    ("c_custkey", LongType()),
    ("c_name", StringType()),
    ("c_nationkey", IntegerType()),
    ("c_acctbal", DoubleType()),
    ("c_mktsegment", StringType()),
)

# --- TPC-DI-shaped source schemas (parity pipelines, tpcdi/) ---------------

# FINWIRE fixed-width record layouts [SPEC: FINWIRE CMP/SEC/FIN record
# types, discriminated by RecType char(3) at offset 15 after PTS char(15)].
# (offset, length) pairs are 0-based; the spec's field list is abridged to
# the fields the parity pipeline consumes.
FINWIRE_CMP_LAYOUT = [
    ("pts", 0, 15),
    ("rec_type", 15, 3),
    ("company_name", 18, 60),
    ("cik", 78, 10),
    ("status", 88, 4),
    ("industry_id", 92, 2),
    ("founding_date", 94, 8),
]

FINWIRE_SEC_LAYOUT = [
    ("pts", 0, 15),
    ("rec_type", 15, 3),
    ("symbol", 18, 15),
    ("issue_type", 33, 6),
    ("status", 39, 4),
    ("name", 43, 70),
    ("ex_id", 113, 6),
    ("sh_out", 119, 13),
    ("co_name_or_cik", 132, 60),
]

FINWIRE_FIN_LAYOUT = [
    ("pts", 0, 15),
    ("rec_type", 15, 3),
    ("year", 18, 4),
    ("quarter", 22, 1),
    ("qtr_start_date", 23, 8),
    ("revenue", 31, 17),
    ("earnings", 48, 17),
    ("eps", 65, 12),
    ("co_name_or_cik", 77, 60),
]

# Flattened CustomerMgmt action row [SPEC: CustomerMgmt.xml transformation]
CUSTOMER_MGMT_ACTION = _st(
    ("action_type", StringType()),
    ("action_ts", TimestampType()),
    ("c_id", LongType()),
    ("c_tax_id", StringType()),
    ("c_first", StringType()),
    ("c_last", StringType()),
    ("acct_id", LongType()),
    ("acct_tax_status", IntegerType()),
)
