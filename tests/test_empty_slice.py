"""Empty-slice axis (r11): every table empty, driver schemas intact.

At 100 TB an empty date-slice, partition, or incremental batch is
routine, and the r11 registry-wide sweep over a zero-row fixture found
three real failure classes, all fixed and pinned here:

1. Partitioned write-then-read ops crashed on read-back schema
   inference (an empty write leaves zero part files →
   UNABLE_TO_INFER_SCHEMA) or on a bucket-glob path that no longer
   exists (PATH_NOT_FOUND). Fixed with explicit read-back schemas /
   root reads with pathGlobFilter.
2. audit_data_quality reported NULL violations over empty relations
   (SUM(CASE) over nothing) where the oracle's COUNT(*) FILTER says 0.
3. The grouping-set trio's oracles emitted the SQL-standard
   empty-input grand-total row that Spark never produces; the
   observed-groups-only contract (HAVING COUNT(*) > 0, a no-op on
   real data) aligns them.

Documented exceptions, asserted as such so a behavior change is loud:
- sink_compact_small_files REQUIRES 64 input part files and raises a
  named ValueError on an empty input (loud precondition, not a hang);
- agg_transpose_matrix / agg_pivot_dynamic produce value-derived
  COLUMNS, so their schema on empty input is the key column only —
  the driver-known-column contract both docstrings carry.

The full registry was swept on this fixture during round 11:
288/291 MATCH + these three documented exceptions.
"""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

from .conftest import SF_DIR, assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# the ops the r11 empty-slice sweep fixed, plus one representative per
# family whose empty behavior is contractually interesting
OPS = [
    "scan_partition_pruned", "sink_partitioned", "join_dpp_partitioned",
    "sink_merge_upsert", "sim_ivf_index_partitioned", "scan_binaryfile",
    "scan_xml_flatten", "audit_data_quality",
    "agg_rollup", "agg_cube", "agg_grouping_sets",
    "agg_groupby_basic", "agg_global", "agg_moments_exact",
    "agg_weighted_avg", "win_median_rolling", "events_retention",
    "dedup_minhash_lsh", "tpcdi_batch_e2e",
    # audits whose report rows are inline()d from global aggregates:
    # a global aggregate over an empty relation still yields its row
    "tpcdi_dimessages", "tpcdi_audit_reconciliation",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_slice")
    for name in TABLES:
        sch = pq.read_schema(f"{SF_DIR}/{name}.parquet")
        pq.write_table(sch.empty_table(), str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{empty_dir}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("op", OPS)
def test_empty_slice_parity(spark, empty_dir, empty_duck, op):
    df = _QUERIES[op](spark, empty_dir)
    assert_parity(df, empty_duck, _ORACLES[op], op)


def test_compaction_precondition_is_loud(spark, empty_dir):
    with pytest.raises(ValueError, match="compaction precondition"):
        _QUERIES["sink_compact_small_files"](spark, empty_dir).collect()


def test_value_derived_columns_collapse_to_keys(spark, empty_dir):
    # driver-known-column contract: on empty input only the key
    # column survives (no value-derived columns to discover)
    assert _QUERIES["agg_transpose_matrix"](spark, empty_dir).columns == ["key"]
    assert _QUERIES["agg_pivot_dynamic"](spark, empty_dir).columns == [
        "o_orderstatus"
    ]
