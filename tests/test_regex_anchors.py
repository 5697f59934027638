"""Regex-anchor and case-mapping edge tests.

Motivated by the r9 continuation probe (SURVEY §7.4k): Java's
non-multiline ``$`` matches before a FINAL line terminator — and Java
counts U+0085 (NEL), U+2028 (LS), U+2029 (PS) as line terminators —
while RE2's ``$`` matches end-of-text only. Two residual ``^..$``
ASCII gates (str_levenshtein_link, str_collate_ci) therefore
classified a name ending in one of those codepoints as ASCII on the
Spark side only, flipping a row into linkage / the upper() arm
one-sided. Both gates now anchor ``\\A..\\z`` (end-of-text in BOTH
engines — the idiom _URL_VALID_RE adopted in round 5), and
canonicalize_url's fragment strip dropped its redundant ``$``.

Each test drives the REAL registered op+oracle pair on a hand-built
fixture where the OLD anchor form produced a row-visible divergence,
plus raw-engine canaries that pin WHY (so an engine upgrade that
changes `$` or case-mapping semantics fails here with a named cause).

Out-of-contract pins kept alongside (same class, new data points):
full vs simple case mapping — Java lower() applies the context-
sensitive final-sigma rule and expands İ; Java upper() expands the
fi-ligature — utf8proc (DuckDB) does none of these, so such
codepoints stay out of the lower()/upper()-path fixture pools.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.plans.llm import canonicalize_url
from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

from .conftest import assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()

NEL = "\u0085"
LS = "\u2028"
PS = "\u2029"


# ------------------------------------------------------------ fixture


def _customer_rows():
    # (c_custkey, c_name, c_nationkey) — linkage blocks on nationkey.
    rows = [
        # nation 1: 1 codepoint edit apart, both ending in NEL. The
        # OLD ^..$ gate let Spark (and only Spark) link them.
        (1, f"linkme{NEL}", 1),
        (2, f"linkmeX{NEL}", 1),
        # nation 2: plain-ASCII control pair — linked by both engines.
        (3, "alpha1", 2),
        (4, "alpha2", 2),
        # nation 3: trailing '\n' — IN [\x00-\x7F], so the gate passes
        # in both engines under BOTH anchor forms; proves \A..\z did
        # not over-exclude (and byte==codepoint distance holds).
        (5, "nl tail\n", 3),
        (6, "nl tailX\n", 3),
        # nation 4: trailing LS — excluded by both engines now.
        (7, f"ends ls{LS}", 4),
        (8, f"ends lsX{LS}", 4),
        # nation 5: embedded NUL (r9 wave 4) — IN [\x00-\x7F] so the
        # ASCII gates admit it in both engines (4 edits apart → no
        # pair), and the XML ops must map it to U+FFFD on both sides.
        (9, "nul\x00tail", 5),
        (10, "NUL\x00tailX", 5),
    ]
    seg = {9: "SEG\x00MENT", 10: "S\x00"}
    return [(k, n, nk, 0.0, seg.get(k, "BUILDING")) for k, n, nk in rows]


def _part_rows():
    # (p_partkey, p_name, p_brand) — str_collate_ci uppers EVEN
    # partkeys behind the ASCII gate.
    rows = [
        # B1: even key ends in NEL. OLD gate: Spark uppered it to
        # 'ABC'+NEL making n_cs=1 while DuckDB kept 'abc'+NEL (n_cs=2).
        (2, f"abc{NEL}", "B1"),
        (3, f"ABC{NEL}", "B1"),
        # B2: ASCII control (upper arm fires in both engines) plus a
        # trailing-'\n' even key (gate passes in both, upper keeps \n).
        (4, "Plain Name", "B2"),
        (5, "PLAIN NAME", "B2"),
        (6, "nl\n", "B2"),
        # B3: even key ends in PS — raw passthrough in both engines.
        (8, f"xyz{PS}", "B3"),
    ]
    return [(k, n, b, "TYPE A", 1, 1.0) for k, n, b in rows]


def _documents_rows():
    # Hostile source values flow into dedup_url_canonical's URL
    # synthesis: embedded newlines, '#', utm-lookalikes. 24 docs so
    # the %3 (WWW.), %4 (query/utm), %5 (#frag) decorations all fire
    # on newline-bearing sources.
    sources = ["s\nrc", "tail\n", "src#x", "plain", "utm_y=9", "s ls" + LS]
    rows = []
    for i in range(24):
        src = sources[i % len(sources)]
        rows.append((i, "twenty words of text", "en", src, 20))
    return rows


_SCHEMAS = {
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
}

_ROWS = {"customer": _customer_rows, "part": _part_rows, "documents": _documents_rows}


@pytest.fixture(scope="module")
def r9_edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("r9_regex_edges")
    for name, schema in _SCHEMAS.items():
        rows = _ROWS[name]()
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        pq.write_table(table, str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def r9_edge_duck(r9_edge_dir):
    con = duckdb.connect()
    for name in _SCHEMAS:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{r9_edge_dir}/{name}.parquet')"
        )
    yield con
    con.close()


# ------------------------------------------- registered-op edge tests


def test_levenshtein_link_gate_terminator_tail(spark, r9_edge_dir, r9_edge_duck):
    df = _QUERIES["str_levenshtein_link"](spark, r9_edge_dir)
    assert_parity(df, r9_edge_duck, _ORACLES["str_levenshtein_link"],
                  "str_levenshtein_link")
    got = {(r["id_a"], r["id_b"], r["edit_dist"]) for r in df.collect()}
    # NEL/LS pairs excluded; ASCII and trailing-'\n' pairs linked.
    assert got == {(3, 4, 1), (5, 6, 1)}


def test_collate_ci_gate_terminator_tail(spark, r9_edge_dir, r9_edge_duck):
    df = _QUERIES["str_collate_ci"](spark, r9_edge_dir)
    assert_parity(df, r9_edge_duck, _ORACLES["str_collate_ci"], "str_collate_ci")
    got = {r["p_brand"]: (r["n_ci"], r["n_cs"]) for r in df.collect()}
    # B1 n_cs == 2 is THE fixed value: the old Spark-side gate uppered
    # 'abc'+NEL into 'ABC'+NEL and reported 1.
    assert got == {"B1": (1, 2), "B2": (2, 2), "B3": (1, 1)}


def test_scan_python_datasource_pad_strip_only(spark, tmp_path):
    """Same probe wave, third mechanism: the FINWIRE Python DataSource
    reader un-padded company_name with a bare str.rstrip() — Python's
    str whitespace INCLUDES U+0085/U+000B/U+2028, so a name with a
    final NEL lost it on the Spark side while DuckDB rtrim (spaces
    only) kept it. The reader now strips only the fixed-width pad
    char. Own fixture (no embedded '\\n' names: a line-framed text
    sink cannot represent them — the same framing contract that keeps
    '\\n' out of the adversarial STR pool)."""
    rows = [
        (2, f"abc{NEL}"), (3, f"ABC{NEL}"), (4, "Plain Name"),
        (8, f"xyz{PS}"), (9, "tab\ttail"), (11, f"mid{NEL}dle"),
    ]
    schema = _SCHEMAS["part"]
    cols = list(zip(*[(k, n, "B", "T", 1, 1.0) for k, n in rows]))
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        ),
        str(tmp_path / "part.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM read_parquet('{tmp_path}/part.parquet')"
    )
    df = _QUERIES["scan_python_datasource"](spark, str(tmp_path))
    assert_parity(df, con, _ORACLES["scan_python_datasource"],
                  "scan_python_datasource")
    con.close()
    names = {r["company_name"] for r in df.collect()}
    assert f"abc{NEL}" in names and f"xyz{PS}" in names
    # the old-form canary: what bare rstrip() would have produced
    assert f"abc{NEL} ".rstrip() == "abc"
    assert f"abc{NEL} ".rstrip(" ") == f"abc{NEL}"


def test_dedup_url_canonical_hostile_sources(spark, r9_edge_dir, r9_edge_duck):
    df = _QUERIES["dedup_url_canonical"](spark, r9_edge_dir)
    assert_parity(df, r9_edge_duck, _ORACLES["dedup_url_canonical"],
                  "dedup_url_canonical")
    # not vacuous: each source repeats 4× over doc_id%50 < 24 distinct
    # pages, and decorations collapse some — at least one dup group.
    assert df.count() >= 1


# --------------------------------------------- canonicalize_url unit

# Mirrors the oracle chain in plans/llm.py _URL_SQL (kept in sync by
# the registered-op parity test above; this VALUES form just isolates
# the chain from the URL synthesis).
_DUCK_CANON = """
SELECT regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(u), '(?s)#.*', '', 'g'),
             'utm_[a-z]+=[^&#]*&', '', 'g'),
           '[?&]utm_[a-z]+=[^&#]*$', '', 'g'),
         '://www\\.', '://', 'g') AS c
FROM t
"""

_HOSTILE_URLS = [
    "https://a.com/x#frag\n",      # trailing-newline fragment: the
                                   # OLD '#.*$' stripped on Spark only
    "https://a.com/p#f\nq#g",      # multi-line fragment: dotall
                                   # strips to END-OF-TEXT in both
                                   # (bare '.*' left '\nq#g' on the
                                   # Spark side — r10 ADVICE fix)
    "https://a.com/p#f\rcr",       # CR tail: Java '.' excludes \r,
                                   # RE2 '.' does not — the exact
                                   # class '(?s)' aligns
    f"https://a.com/p#f{NEL}nel",  # NEL tail, same class
    "https://b.com/y#frag",        # clean fragment control
    "https://c.com/z?utm_x=1\n",   # utm tail + newline: [^&#]* eats
                                   # the \n, so the kept '$' agrees
    "https://c.com/z?utm_x=1",     # utm tail control
    "https://WWW.d.com/q?id=2#a",  # full decoration control
]


def test_canonicalize_url_newline_parity(spark, duck):
    df = spark.createDataFrame([(u,) for u in _HOSTILE_URLS], "u string")
    got = [r["c"] for r in
           df.select(canonicalize_url(F.col("u")).alias("c")).collect()]
    duck.execute("CREATE OR REPLACE TEMP TABLE t AS SELECT * FROM (VALUES "
                 + ", ".join("(?)" for _ in _HOSTILE_URLS) + ") v(u)",
                 _HOSTILE_URLS)
    want = [r[0] for r in duck.execute(_DUCK_CANON).fetchall()]
    assert got == want
    # and the strip actually happened on the newline-free control
    assert "https://b.com/y" in got


def test_old_fragment_anchor_diverged_canary(spark, duck):
    """Pins WHY '#.*$' was dropped: on a trailing-newline URL Java's
    $ matches before the final '\\n' (strips) while RE2's does not
    (keeps). If an engine upgrade aligns them, retire this pin."""
    s = spark.sql(
        r"SELECT regexp_replace('https://a.com/x#frag\n', '#.*$', '') AS c"
    ).collect()[0]["c"]
    d = duck.execute(
        "SELECT regexp_replace('https://a.com/x#frag' || chr(10), "
        "'#.*$', '', 'g')"
    ).fetchone()[0]
    assert s == "https://a.com/x\n"          # Java stripped
    assert d == "https://a.com/x#frag\n"     # RE2 did not
    assert s != d


# ------------------------------------------------ raw-engine canaries


@pytest.mark.parametrize("tail", [NEL, LS, PS])
def test_dollar_gate_terminator_divergence_canary(spark, duck, tail):
    """The r9 finding itself: Java's ^..$ calls 'abc'+terminator ASCII
    (its $ matches before any FINAL Java line terminator the class
    cannot consume); RE2's does not. \\A..\\z is false in both."""
    v = "abc" + tail
    old_s = spark.createDataFrame([(v,)], "s string").select(
        F.col("s").rlike(r"^[\x00-\x7F]*$").alias("m")
    ).collect()[0]["m"]
    old_d = duck.execute(
        r"SELECT regexp_matches(?, '^[\x00-\x7F]*$')", [v]
    ).fetchone()[0]
    assert old_s is True and old_d is False  # the divergence
    new_s = spark.createDataFrame([(v,)], "s string").select(
        F.col("s").rlike(r"\A[\x00-\x7F]*\z").alias("m")
    ).collect()[0]["m"]
    new_d = duck.execute(
        r"SELECT regexp_matches(?, '\A[\x00-\x7F]*\z')", [v]
    ).fetchone()[0]
    assert new_s is False and new_d is False  # aligned


def test_z_gate_keeps_plain_newline_in_class(spark, duck):
    """Trailing '\\n' IS consumable by [\\x00-\\x7F], so both anchor
    forms call it ASCII in both engines — the \\A..\\z migration
    narrowed nothing for in-class terminators."""
    for pat_s, pat_d in [
        (r"^[\x00-\x7F]*$", r"^[\x00-\x7F]*$"),
        (r"\A[\x00-\x7F]*\z", r"\A[\x00-\x7F]*\z"),
    ]:
        s = spark.createDataFrame([("abc\n",)], "s string").select(
            F.col("s").rlike(pat_s).alias("m")
        ).collect()[0]["m"]
        d = duck.execute(
            f"SELECT regexp_matches('abc' || chr(10), '{pat_d}')"
        ).fetchone()[0]
        assert s is True and d is True


def test_scan_csv_malformed_pruning_independent(spark, tmp_path):
    """Found by the r9 Catalyst rule-ablation sweep: with a mid-'|'
    nation name, the permissive-CSV quarantine counts depended on
    parser column pruning (Spark validates only the QUERIED columns),
    flipping 25/5 → 24/6 when ColumnPruning was excluded. The writer
    now delimiter-sanitizes n_name, so the counts must be identical
    with the rule excluded and at default."""
    rows = [(0, "pipe|in|name", 0), (1, "plain", 1), (2, "x|", 2)]
    schema = pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()),
         ("n_regionkey", pa.int32())]
    )
    cols = list(zip(*rows))
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        ),
        str(tmp_path / "nation.parquet"),
    )
    key = "spark.sql.optimizer.excludedRules"
    prev = spark.conf.get(key, None)

    def counts():
        r = _QUERIES["scan_csv_malformed"](spark, str(tmp_path)).collect()[0]
        return (r["n_good"], r["n_corrupt"])

    try:
        default = counts()
        spark.conf.set(
            key, "org.apache.spark.sql.catalyst.optimizer.ColumnPruning"
        )
        ablated = counts()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert default == ablated == (3, 5)


def test_xml_ops_c0_sanitized(spark, r9_edge_dir, r9_edge_duck):
    """r9 wave 4 (NUL pool entry): XML 1.0 cannot represent U+0000 at
    all — ET.fromstring throws on a raw NUL and even on &#0; — so both
    XML ops' writers map XML-invalid C0 controls to U+FFFD, mirrored
    in their oracles. The NUL-bearing names/segments in this fixture
    must round-trip as U+FFFD on BOTH engines."""
    import xml.etree.ElementTree as ET

    for bad in ['<a b="\x00"/>', "<a>&#0;</a>"]:
        with pytest.raises(ET.ParseError):
            ET.fromstring(bad)

    flat = _QUERIES["scan_xml_flatten"](spark, r9_edge_dir)
    assert_parity(flat, r9_edge_duck, _ORACLES["scan_xml_flatten"],
                  "scan_xml_flatten")
    lasts = {r["c_id"]: r["c_last"] for r in flat.collect()}
    assert lasts[9] == "nul�tail" and "\x00" not in "".join(
        v for v in lasts.values() if v
    )

    rt = _QUERIES["xml_roundtrip_builtin"](spark, r9_edge_dir)
    assert_parity(rt, r9_edge_duck, _ORACLES["xml_roundtrip_builtin"],
                  "xml_roundtrip_builtin")
    segs = {r["xkey"]: r["seg"] for r in rt.collect()}
    assert segs[9] == "SEG�MENT" and segs[10] == "S�"


def test_case_mapping_full_vs_simple_canaries(spark, duck):
    """Out-of-contract class pins (why Σ/İ/ligature-upper inputs stay
    out of lower()/upper()-path fixture pools): Java applies FULL,
    context-sensitive Unicode case mapping; utf8proc applies SIMPLE
    per-codepoint mapping."""
    cases = [
        # (expr-col, input, java_full, duck_simple)
        ("lower", "ΣΟΦΟΣ ΑΣ", "σοφος ας", "σοφοσ ασ"),  # final sigma,
        #   applied at EVERY word end, not just string end
        ("lower", "İSTANBUL", "i̇stanbul", "istanbul"),  # dotted I
        ("upper", "ﬁle", "FILE", "ﬁLE"),  # ligature expansion
        ("upper", "straße", "STRASSE", "STRAẞE"),  # ß → SS vs U+1E9E
    ]
    for fn, v, java_full, duck_simple in cases:
        s = spark.createDataFrame([(v,)], "s string").select(
            getattr(F, fn)("s").alias("c")
        ).collect()[0]["c"]
        d = duck.execute(f"SELECT {fn}(?)", [v]).fetchone()[0]
        assert s == java_full, f"Spark {fn}({v!r}) moved: {s!r}"
        assert d == duck_simple, f"DuckDB {fn}({v!r}) moved: {d!r}"
