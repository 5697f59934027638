"""Tests for the str_levenshtein_link deletion-neighborhood
rewrite (VERDICT r9 item 2 — the sanctioned replacement of the
O(block²) blocked cross join).

The rewrite is claimed EXACT for Levenshtein ≤ 2 by SymSpell
completeness: if lev(a, b) ≤ 2, then a and b share a string reachable
by ≤ 2 deletions from each, so the (block, variant) candidate join is
a superset of the true pair set and the final levenshtein ≤ 2 verify
makes the output identical to the brute join's. These tests assert
that equality on a hostile hand-built corpus (dup-heavy clusters,
empty strings, NULs, repeated-char runs, and every edit type the
deletion lattice must cover: substitution / insertion / deletion /
transposition / mixed), pin the exact expected pair set by hand so
both plans failing the same way cannot slip through, and assert
oracle parity on the same fixture — the certified artifact is the
neighborhood algorithm in BOTH engines (the DuckDB oracle replicates
the variant generation move-for-move, VERDICT r9 item 2's oracle
requirement).

The measured crossover (brute wins ≤ ~15k rows; neighborhood wins
1.9–6.5× at 375k) lives in tools/lev_crossover_probe.py and
SCALING.md's round-9 adjudication.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries
from tpc_di_etl_using_pyspark_spark.plans._util import t

from .conftest import assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()

NEL = "\u0085"


def _customer_rows():
    # (c_custkey, c_name, c_nationkey)
    return [
        # nation 0 — dup-heavy cluster: three IDENTICAL names (dist 0,
        # all 3 pairs) plus a substitution (1), an insertion (1), a
        # deletion (1), a transposition (2), and a 3-edit outsider
        # (excluded). The deletion lattice must cover every edit type.
        (1, "martha stone", 0),
        (2, "martha stone", 0),
        (3, "martha stone", 0),
        (4, "martha st0ne", 0),   # substitution        → dist 1
        (5, "martha stonee", 0),  # insertion           → dist 1
        (6, "marth stone", 0),    # deletion            → dist 1
        (7, "martha tsone", 0),   # transposition       → dist 2
        (8, "marXha stYnZ", 0),   # 3 substitutions     → excluded
        # nation 1 — short-string edges: '' vs 'a' (1), '' vs 'ab'
        # (2), 'ab' vs 'ba' (2 — whole-string transposition), ''
        # vs 'abc' (3 → excluded).
        (10, "", 1),
        (11, "a", 1),
        (12, "ab", 1),
        (13, "ba", 1),
        (14, "abc", 1),
        # nation 2 — repeated-char runs: variant sets COLLAPSE under
        # DISTINCT ('xxxx…' deleting any two chars is ONE string);
        # dist(x*30, x*28) = 2, dist(x*30, x*27) = 3 (excluded).
        (20, "x" * 30, 2),
        (21, "x" * 28, 2),
        (22, "x" * 27, 2),
        # nation 3 — NUL bytes are ASCII ([\x00-\x7F] admits them in
        # both engines, r9 pool): dist 1 via the char next to the NUL.
        (30, "nul\x00byte", 3),
        (31, "nul\x00bYte", 3),
        # nation 3 — Java-only terminator tail: the \A..\z gate
        # EXCLUDES these in both engines (r9 migration; the pair would
        # be dist 1 if admitted).
        (32, f"linkme{NEL}", 3),
        (33, f"linkmeX{NEL}", 3),
        # nation 3 — non-ASCII: excluded by the gate in both engines.
        (34, "münchen", 3),
        (35, "munchen", 3),
        # nation 4 — identical name to nation 0's cluster: blocks
        # never cross-link; plus a 2-substitutions-25-chars-apart pair
        # (the shared variant deletes both differing positions).
        (40, "martha stone", 4),
        (41, "Zbcdefghijklmnopqrstuvwxy", 4),
        (42, "abcdefghijklmnopqrstuvwxZ", 4),
        # nation 5 — length gap of exactly 2 via double insertion:
        # 'core' ⊂ 'scored' (dist 2); 'sc0red' is 1 from 'scored' but
        # 3 from 'core' (excluded).
        (50, "core", 5),
        (51, "scored", 5),
        (52, "sc0red", 5),
    ]


# hand-derived truth for the corpus above (id_a < id_b, dist ≤ 2)
_EXPECTED = {
    (1, 2, 0), (1, 3, 0), (2, 3, 0),
    (1, 4, 1), (2, 4, 1), (3, 4, 1),
    (1, 5, 1), (2, 5, 1), (3, 5, 1),
    (1, 6, 1), (2, 6, 1), (3, 6, 1),
    (1, 7, 2), (2, 7, 2), (3, 7, 2),
    (4, 5, 2), (4, 6, 2), (5, 6, 2),
    (10, 11, 1), (10, 12, 2), (10, 13, 2),
    (11, 12, 1), (11, 13, 1), (11, 14, 2),
    (12, 13, 2), (12, 14, 1), (13, 14, 2),
    (20, 21, 2), (21, 22, 1),
    (30, 31, 1),
    (41, 42, 2),
    (50, 51, 2), (51, 52, 1),
}

_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)


@pytest.fixture(scope="module")
def lev_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("r10_lev_neighborhood")
    rows = [(k, n, nk, 0.0, "BUILDING") for k, n, nk in _customer_rows()]
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, _SCHEMA)],
        schema=_SCHEMA,
    )
    pq.write_table(table, str(d / "customer.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def lev_duck(lev_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{lev_dir}/customer.parquet')"
    )
    yield con
    con.close()


def _brute(spark, d):
    """The pre-r10 brute plan, verbatim: block self-join, ASCII gate,
    levenshtein ≤ 2 — the output the neighborhood must reproduce."""
    c = t(spark, d, "customer")
    ascii_ok = F.col("c_name").rlike(r"\A[\x00-\x7F]*\z")
    a = c.filter(ascii_ok).select(
        F.col("c_nationkey").alias("blk"),
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
    )
    b = c.filter(ascii_ok).select(
        F.col("c_nationkey").alias("blk"),
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") <= 2)
    )


def _pairs(df):
    return {(r["id_a"], r["id_b"], r["edit_dist"]) for r in df.collect()}


def test_neighborhood_equals_brute_on_hostile_corpus(spark, lev_dir):
    got = _pairs(_QUERIES["str_levenshtein_link"](spark, lev_dir))
    want = _pairs(_brute(spark, lev_dir))
    assert got == want, (
        f"neighborhood ≠ brute: only-neighborhood="
        f"{sorted(got - want)} only-brute={sorted(want - got)}"
    )


def test_hostile_corpus_pairs_pinned_by_hand(spark, lev_dir):
    """Pin the exact expected output so BOTH plans failing the same
    way (e.g. a shared gate bug) cannot slip past the equality test —
    every tuple above was derived by hand from the edit semantics."""
    got = _pairs(_QUERIES["str_levenshtein_link"](spark, lev_dir))
    assert got == _EXPECTED, (
        f"unexpected={sorted(got - _EXPECTED)} "
        f"missing={sorted(_EXPECTED - got)}"
    )


def test_oracle_replays_neighborhood_on_hostile_corpus(spark, lev_dir, lev_duck):
    """Dual-engine parity on the hostile corpus: the DuckDB oracle
    generates the same ≤2-deletion variants (unnest(range) + substr
    concat) and must land on the identical pair set."""
    df = _QUERIES["str_levenshtein_link"](spark, lev_dir)
    assert_parity(df, lev_duck, _ORACLES["str_levenshtein_link"],
                  "str_levenshtein_link")


def test_variant_dedup_collapses_repeated_runs(spark, lev_dir):
    """White-box: for 'x'*30 the ≤2-deletion neighborhood is exactly
    {x*30, x*29, x*28} — the per-row DISTINCT must collapse the
    C(30,2)+30+1 = 466 lattice paths to 3 variant rows, or repeated
    runs (real corpora: '-----', '....') explode the join input."""
    c = t(spark, lev_dir, "customer").filter(F.col("c_custkey") == 20)
    base = c.select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("blk"),
        F.col("c_name").alias("name"),
    )
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
    got = sorted(r["var"] for r in variants.collect())
    assert got == ["x" * 28, "x" * 29, "x" * 30]
