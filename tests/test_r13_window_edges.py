"""Round-13 pre-certification edge tests, built TWO ROUNDS early
(round 11; the standing §7.5-r8-item-4 enumeration, sixth execution):
the 39 incoming-r13-window ops with no dedicated test anywhere in
tests/ — the core relational family (filters, projections, every join
flavor), the scan/sink format round-trips, the text-analysis second
half, the similarity family, and the deterministic samplers. The
probe wave behind this file found a REAL stage-killer: the naive
Knuth-hash product id*2654435761 overflows signed 64-bit for ids
beyond ~3.5e9 (ANSI ARITHMETIC_OVERFLOW — any corpus past ~3.5
billion documents/customers kills the splitter), fixed by an
overflow-free 16-bit-split multiply in llm._split_bucket and
str_concat_phone's modular local number, elevated with the two
transitive helper adopters (pipeline_corpus_curation,
pipeline_pretrain_e2e).

Boundaries pinned:
- split hashing with ids ABOVE the old overflow bound, including the
  id landing EXACTLY on the train/val boundary (strict < → 'val')
  and the last 'train' id;
- anti join: a customer whose only orders are non-urgent IS kept; a
  NULL-custkey urgent order anti-matches nobody (NOT EXISTS, never
  NULL-poisoned NOT IN);
- full join: right-only (orphan nationkey), left-only (nation with
  no suppliers), and NULL-key suppliers all survive with NULLs;
- theta: equal balances in one nation do NOT pair (strict <);
- self-versioning join: same-date orders tie-break on the unique key;
  a single-order customer emits no delta row;
- multi-key join: a NULL linestatus never equi-matches (its group
  exists but joins nothing);
- fingerprints: permuted and duplicated token multisets share one
  fingerprint (sorted distinct set);
- zero vectors: NULLIF'd cosine keeps them out of knn/near-dup pairs
  instead of DIVIDE_BY_ZERO; exact duplicates score cosine 1;
- repetition signals exist only for docs with ≥ 2 words (the r4
  shingles convention);
- fixed-width scan: overlong names truncate at the field width.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

from .conftest import assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


TS = _ts("2024-01-15 12:00:00")

# ids at and around the split boundaries, PRE-IMAGED through the
# Knuth hash (id = boundary * A^{-1} mod 2^32): all three sit ABOVE
# the naive form's ~3.47e9 overflow bound, so this fixture re-proves
# the overflow fix on every run
ID_TRAIN_VAL_EDGE = 3240771724   # hash == 3435973836 exactly → 'val'
ID_LAST_TRAIN = 2996769083       # hash == 3435973835 → 'train'
ID_VAL_TEST_EDGE = 3523866869    # hash == 3865470565 exactly → 'test'

OPS = [
    "text_fingerprint", "dedup_keep_best", "sim_knn_join",
    "sim_embedding_neardup", "dedup_semantic_cluster", "multimodal_join",
    "sample_split_assign", "text_pii_redact", "sim_quantized_topk",
    "text_length_histogram", "text_contamination_ngram",
    "text_repetition_score", "text_quality_linear", "graph_triangle_count",
    "sample_temperature_mixture", "text_bpe_pair_count", "scan_jsonl",
    "scan_orc", "scan_text_fixedwidth", "sink_parquet", "sink_bucketed",
    "sink_table_overwrite_append", "project_select", "project_derive",
    "project_rename_drop", "filter_simple", "filter_compound",
    "filter_null", "filter_like_regexp", "join_inner_equi",
    "join_multi_key", "join_left_outer", "join_right_full", "join_semi",
    "join_anti", "join_theta_inequality", "join_self_versioning",
    "join_cross", "agg_count_distinct",
    # the non-window overflow-fix adopters, driven here so the fixture
    # that found the class keeps exercising them
    "sample_stratified_exact", "str_concat_phone",
    "pipeline_corpus_curation",
]


def _region():
    return [(0, "AMERICA", "r0"), (1, "ASIA", "r1")]


def _nation():
    return [(0, "ALPHA", 0), (1, "BETA|pipe", 1), (2, "GÄMMA", 0),
            (3, "DELTA", 1)]


def _supplier():
    # acctbal tie inside nation 0 (strict < excludes the pair),
    # orphan nationkey 99 (full-join right-only), NULL nationkey
    return [
        (1, "sup one", 0, 100.0),
        (2, "sup two", 0, 100.0),
        (3, "sup three", 0, 250.5),
        (4, "sup four", 99, 10.0),
        (5, "sup five", None, 20.0),
        (6, "sup six", 2, -5.0),
    ]


def _part():
    return [
        (0, "a+b*c?d", "B1", "small plated", 5, 1.5),
        (1, "x" * 80, "B2", "large brushed", 10, 2.5),
        (2, "ünïcode pärt", "B1", "medium anodized", 15, 3.5),
        (3, "trailing   ", "B2", "small polished", 20, 4.5),
        (4, "percent%under_score", "B1", "large plated", 25, 5.5),
    ]


def _customer():
    return [
        (1, "urgent buyer", 0, 100.0, "B"),
        (2, "casual buyer", 1, None, "A"),   # NULL acctbal
        (3, None, 2, 50.0, "B"),             # NULL name
        (4, "no orders", 3, 75.0, "A"),
        (5, "single order", 0, 80.0, "B"),
    ]


def _orders():
    return [
        (0, 1, "F", 100.0, _ts("2024-01-01 00:00:00"), "1-URGENT"),
        (1, 1, "O", 200.0, _ts("2024-01-01 00:00:00"), "5-LOW"),
        (2, 1, "P", 300.0, _ts("2024-01-02 00:00:00"), "2-HIGH"),
        (3, 2, "F", 50.0, _ts("2024-01-03 00:00:00"), "5-LOW"),
        (4, None, "O", 75.0, _ts("2024-01-04 00:00:00"), "1-URGENT"),
        (5, 5, "F", 10.0, _ts("2024-01-05 00:00:00"), "3-MEDIUM"),
    ]


def _events():
    return [
        (0, TS, 1, "line\nbreak", 1.5, '{"k": 1}'),
        (1, TS, 2, 'quote"back\\slash', 2.5, "{}"),
        (2, TS, 3, "ünïcode", -3.5, '{"k": null}'),
        (3, TS, 1, "", 0.0, '{"j": 2}'),
    ]


def _documents():
    texts = [
        (0, "alpha beta gamma", "en", "s1"),
        (1, "gamma beta alpha", "en", "s1"),       # permuted twin
        (2, "beta beta alpha gamma", "en", "s2"),  # duplicated token
        (3, "email me at a.b@test.com or call 555-123-4567 now", "en", "s1"),
        (4, "solo", "en", "s2"),                   # one word: no 2-grams
        (5, "", "xx", "s1"),
        (6, "the quick brown fox jumps over the lazy dog", "en", "s2"),
        (ID_TRAIN_VAL_EDGE, "exactly on the train/val boundary", "en", "s1"),
        (ID_LAST_TRAIN, "last train id", "en", "s2"),
        (ID_VAL_TEST_EDGE, "exactly on the val/test boundary", "en", "s1"),
    ]
    return [(i, t, lang, src, len(t)) for i, t, lang, src in texts]


def _embeddings():
    ramp = [(j - 32) / 32.0 for j in range(64)]
    emb = [
        (0, [0.0] * 64, 0),            # zero vector: cosine NULLIF path
        (1, ramp, 0),
        (2, ramp, 1),                  # exact duplicate of 1
        (3, [-x for x in ramp], 1),    # antipode
        (4, [0.5] * 64, 2),
        (5, [0.25] * 64, 2),           # colinear with 4
    ]
    return [(i, [float(x) for x in v], l) for i, v, l in emb]


def _lineitem():
    return [
        (0, 10, 100, 1, 5.0, 10.0, 0.1, 0.02, "N", "O", TS),
        (0, 11, 100, 2, 6.0, 20.0, 0.2, 0.02, "N", None, TS),
        (1, 10, 101, 1, 7.0, 30.0, 0.3, 0.02, "R", "F", TS),
        (1, 11, 101, 2, 8.0, 40.0, 0.0, 0.02, "R", "F", TS),
        (2, 10, 102, 1, 9.0, 50.0, 0.5, 0.02, "A", "O", TS),
        (2, 11, 102, 2, 1.0, 60.0, 0.6, 0.02, "A", "O", TS),
        (3, 12, 103, 1, 2.0, None, 0.1, 0.02, "N", "F", TS),
    ]


_TABLES = {
    "region": (_region, "r_regionkey:int32,r_name:str,r_comment:str"),
    "nation": (_nation, "n_nationkey:int32,n_name:str,n_regionkey:int32"),
    "supplier": (
        _supplier,
        "s_suppkey:int64,s_name:str,s_nationkey:int32,s_acctbal:f64",
    ),
    "part": (
        _part,
        "p_partkey:int64,p_name:str,p_brand:str,p_type:str,p_size:int32,"
        "p_retailprice:f64",
    ),
    "customer": (
        _customer,
        "c_custkey:int64,c_name:str,c_nationkey:int32,c_acctbal:f64,"
        "c_mktsegment:str",
    ),
    "orders": (
        _orders,
        "o_orderkey:int64,o_custkey:int64,o_orderstatus:str,"
        "o_totalprice:f64,o_orderdate:ts,o_orderpriority:str",
    ),
    "events": (
        _events,
        "event_id:int64,ts:ts,user_id:int64,event_type:str,value:f64,"
        "props:str",
    ),
    "documents": (
        _documents,
        "doc_id:int64,text:str,lang:str,source:str,n_chars:int64",
    ),
    "embeddings": (_embeddings, "vec_id:int64,embedding:vec,label:int32"),
    "lineitem": (
        _lineitem,
        "l_orderkey:int64,l_partkey:int64,l_suppkey:int64,"
        "l_linenumber:int32,l_quantity:f64,l_extendedprice:f64,"
        "l_discount:f64,l_tax:f64,l_returnflag:str,l_linestatus:str,"
        "l_shipdate:ts",
    ),
}

_PA = {
    "int64": pa.int64(), "int32": pa.int32(), "str": pa.string(),
    "f64": pa.float64(), "ts": pa.timestamp("us"),
    "vec": pa.list_(pa.float32()),
}


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("r13_window_edges")
    for name, (rows_fn, ddl) in _TABLES.items():
        fields = [
            pa.field(p.split(":")[0], _PA[p.split(":")[1]])
            for p in ddl.split(",")
        ]
        rows = rows_fn()
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, fields)],
            schema=pa.schema(fields),
        )
        pq.write_table(table, str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duckdb.connect()
    for name in _TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{edge_dir}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("op", OPS)
def test_window_op_parity_on_hostile_fixture(spark, edge_dir, edge_duck, op):
    df = _QUERIES[op](spark, edge_dir)
    assert_parity(df, edge_duck, _ORACLES[op], op)


# ------------------------------------------------- absolute pins


def _rows(spark, op, d, keycol):
    return {
        r[keycol]: r.asDict() for r in _QUERIES[op](spark, d).collect()
    }


def test_split_hash_survives_huge_ids(spark, edge_dir):
    # every id here is ABOVE the naive product's int64 overflow bound
    got = _rows(spark, "sample_split_assign", edge_dir, "doc_id")
    assert got[ID_TRAIN_VAL_EDGE]["split"] == "val"    # strict <
    assert got[ID_TRAIN_VAL_EDGE]["bucket"] == 3435973836
    assert got[ID_LAST_TRAIN]["split"] == "train"
    assert got[ID_VAL_TEST_EDGE]["split"] == "test"


def test_anti_join_null_semantics(spark, edge_dir):
    kept = {r.c_custkey for r in _QUERIES["join_anti"](spark, edge_dir).collect()}
    # cust 1 has an urgent order → dropped; cust 2's orders are all
    # non-urgent → KEPT; the NULL-custkey urgent order excludes nobody
    assert kept == {2, 3, 4, 5}
    semi = {r.c_custkey for r in _QUERIES["join_semi"](spark, edge_dir).collect()}
    assert semi == {1, 2, 5}                 # cust 3/4 have no orders


def test_full_join_shape(spark, edge_dir):
    rows = _QUERIES["join_right_full"](spark, edge_dir).collect()
    names = {(r.n_name, r.s_name) for r in rows}
    assert (None, "sup four") in names       # orphan nationkey 99
    assert (None, "sup five") in names       # NULL nationkey
    assert ("BETA|pipe", None) in names      # nation with no suppliers
    assert ("DELTA", None) in names


def test_theta_strict_inequality_excludes_ties(spark, edge_dir):
    rows = _QUERIES["join_theta_inequality"](spark, edge_dir).collect()
    pairs = {(r.low_supp, r.high_supp) for r in rows}
    # suppliers 1 and 2 tie at 100.0 in nation 0 → neither direction
    assert (1, 2) not in pairs and (2, 1) not in pairs
    assert (1, 3) in pairs and (2, 3) in pairs  # 100.0 < 250.5


def test_self_versioning_ties_and_singletons(spark, edge_dir):
    rows = _QUERIES["join_self_versioning"](spark, edge_dir).collect()
    cust1 = sorted(
        (r for r in rows if r.o_custkey == 1), key=lambda r: r.o_orderkey
    )
    # same-date orders 0/1 tie-break on the key: deltas 100, 100
    assert [(r.o_orderkey, r.price_delta) for r in cust1] == [
        (1, 100.0), (2, 100.0)
    ]
    assert not [r for r in rows if r.o_custkey == 5]  # single order: no prv


def test_multi_key_join_null_component_never_matches(spark, edge_dir):
    rows = _QUERIES["join_multi_key"](spark, edge_dir).collect()
    assert all(r.l_linestatus is not None for r in rows)
    assert len(rows) == 6                    # the NULL-linestatus row drops


def test_fingerprint_is_token_set_invariant(spark, edge_dir):
    got = _rows(spark, "text_fingerprint", edge_dir, "doc_id")
    # permutation AND duplication of the token multiset fingerprint
    # identically (sorted distinct set)
    assert got[0]["fingerprint"] == got[1]["fingerprint"] == got[2]["fingerprint"]
    assert got[4]["fingerprint"] != got[0]["fingerprint"]


def test_zero_vector_cosine_is_null_not_error(spark, edge_dir):
    knn = _QUERIES["sim_knn_join"](spark, edge_dir).collect()
    by_pair = {(r.id_a, r.id_b): r for r in knn}
    # the zero vector's cosine is NULLIF'd: the pair survives with a
    # NULL score, never a DIVIDE_BY_ZERO stage kill
    assert by_pair[(0, 1)].cos_sim is None
    assert by_pair[(2, 3)].cos_sim == -1.0   # exact antipode
    assert by_pair[(4, 5)].cos_sim == 1.0    # colinear pair
    # neardup's bucketed candidate generator (its documented recall
    # contract — certified by a full-pipeline mirror oracle) pairs the
    # colinear (4,5) at cos exactly 1 and never surfaces the zero
    # vector as anyone's near-duplicate
    near = [tuple(r) for r in
            _QUERIES["sim_embedding_neardup"](spark, edge_dir).collect()]
    assert (4, 5, 1.0) in near
    assert all(0 not in (a, b) for a, b, _ in near)


def test_repetition_needs_two_words(spark, edge_dir):
    ids = {r.doc_id for r in _QUERIES["text_repetition_score"](spark, edge_dir).collect()}
    assert 4 not in ids and 5 not in ids      # 1-word and empty docs
    assert 2 in ids


def test_pii_redaction_hits_email_and_phone(spark, edge_dir):
    got = _rows(spark, "text_pii_redact", edge_dir, "doc_id")
    red = got[3]["redacted"]
    # the op appends synthetic contacts, then redacts: the email
    # pattern also catches the DATA email; the +1-NNN-NNNN phone
    # pattern is the documented contract (a bare 555-123-4567 in data
    # is NOT in the pattern's shape and survives)
    assert "a.b@test.com" not in red and "<EMAIL>" in red
    assert "<PHONE>" in red and "555-123-4567" in red
    assert got[0]["redacted"].startswith("alpha beta gamma contact ")


def test_fixed_width_truncates_overlong_names(spark, edge_dir):
    rows = _QUERIES["scan_text_fixedwidth"](spark, edge_dir).collect()
    assert rows and all(
        len(v) <= 60 for r in rows for v in [r[1]] if isinstance(v, str)
    )
