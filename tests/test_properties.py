"""Property-based tests (hypothesis) for the engine's composite
primitives — randomized inputs, first-principles checkers. These cover
the input shapes the fixed fixtures can't: duplicate effective dates,
all-delete CDC batches, disconnected graphs, single-row groups.
"""

from __future__ import annotations

import datetime
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.llm.components import connected_components
from tpc_di_etl_using_pyspark_spark.tpcdi.pipeline import (
    cdc_apply,
    scd2_audit,
    scd2_build,
)

# default 12 keeps the suite fast; periodic mining runs raise it:
#   PROPERTY_EXAMPLES=300 pytest tests/test_properties.py
# (the knob test_stale_cert_edges.py already carries — r10 parity)
SETTINGS = settings(
    max_examples=int(os.environ.get("PROPERTY_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_actions = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),  # natural key
        st.integers(min_value=0, max_value=400),  # eff day offset (dups allowed)
        st.sampled_from(["A", "B", "C"]),  # tracked attr
    ),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(_actions)
def test_scd2_intervals_always_valid(spark, rows):
    base = datetime.date(2020, 1, 1)
    df = spark.createDataFrame(
        [
            (k, base + datetime.timedelta(days=off), attr, i)
            for i, (k, off, attr) in enumerate(rows)
        ],
        "k int, eff date, attr string, tb int",
    )
    dim = scd2_build(df, "k", "eff", ["attr"], "tb")
    assert scd2_audit(dim, "k").first()["n_violations"] == 0
    cur = dim.filter("is_current").groupBy("k").count()
    assert cur.filter("count != 1").count() == 0
    # version count per key == action count per key
    per_key = dim.groupBy("k").agg(F.max("version").alias("mx"), F.count("*").alias("n"))
    assert per_key.filter("mx != n").count() == 0


_cdc = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=8),  # key
        st.integers(min_value=0, max_value=100),  # value
        st.sampled_from(["I", "U", "D"]),
        st.integers(min_value=1, max_value=50),  # dsn
    ),
    min_size=0,
    max_size=25,
)


@SETTINGS
@given(st.lists(st.integers(min_value=1, max_value=8), max_size=8, unique=True), _cdc)
def test_cdc_apply_matches_sequential_replay(spark, current_keys, cdc_rows):
    current = spark.createDataFrame(
        [(k, -1) for k in current_keys] or [(None, None)],
        "key int, val int",
    ).filter("key IS NOT NULL")
    cdc = spark.createDataFrame(
        [
            (k, v, fl, (dsn, i))  # (dsn, input-order) → unique total order
            for i, (k, v, fl, dsn) in enumerate(cdc_rows)
        ]
        or [(None, None, None, None)],
        "key int, val int, cdc_flag string, cdc_dsn struct<d:int,i:int>",
    ).filter("key IS NOT NULL")
    result = {
        r.key: r.val for r in cdc_apply(current, cdc, ["key"]).collect()
    }
    # replay in dsn order per key, python-side
    state = {k: -1 for k in current_keys}
    last = {}
    for i, (k, v, fl, dsn) in enumerate(cdc_rows):
        if k not in last or (dsn, i) > last[k][0]:
            last[k] = ((dsn, i), v, fl)
    for k, (_, v, fl) in last.items():
        if fl == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert result == state


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)
    ),
    min_size=1,
    max_size=20,
)


@SETTINGS
@given(_edges)
def test_connected_components_matches_union_find(spark, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.component for r in connected_components(df).collect()}
    # reference union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


_docs = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c"),  # tiny vocab → dense Jaccard ties
        min_size=1,
        max_size=40,
    ),
    min_size=2,
    max_size=12,
)


@SETTINGS
@given(_docs)
def test_jaccard_verify_equals_bruteforce_with_all_pairs(spark, texts):
    """jaccard_verify fed EVERY pair must reproduce the brute-force
    exact Jaccard≥t set — this is what makes the size-ratio prefilter
    lossless by construction, and it must hold on degenerate shapes
    the fixtures don't have (empty-ish docs, identical docs, single
    shared word, whitespace runs)."""
    from tpc_di_etl_using_pyspark_spark.llm.minhash import (
        jaccard_verify,
        shingles,
    )

    rows = [(i, t if t.strip() else "x") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(df, "doc_id", "text", k=2)
    ids = [r[0] for r in rows]
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_verify(all_pairs, sh, "doc_id", 0.5).collect()
    }

    # reference: python brute force with the same shingling
    import re

    def sh_set(t):
        # matches shingles(): docs under k words emit NO shingle (the
        # oracle NULL-gram convention, round 4)
        words = re.split(r"\s+", t.lower())
        return {" ".join(words[i : i + 2]) for i in range(len(words) - 1)}

    expect = {}
    by_id = {i: sh_set(t) for i, t in rows}
    for a in ids:
        for b in ids:
            if a < b:
                inter = len(by_id[a] & by_id[b])
                union = len(by_id[a] | by_id[b])
                j = inter / union if union else 0.0
                if j >= 0.5:
                    expect[(a, b)] = j
    assert set(got) == set(expect), (set(got) ^ set(expect), rows)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9


_hosts = st.text(alphabet="abcdefgh", min_size=1, max_size=8)
_paths = st.lists(
    st.text(alphabet="abc123", min_size=1, max_size=5), min_size=0, max_size=3
)


@given(
    host=_hosts,
    path=_paths,
    www=st.booleans(),
    upper=st.booleans(),
    utm=st.sampled_from([None, "utm_source=x", "utm_campaign=spring"]),
    real_param=st.sampled_from([None, "id=7", "q=abc"]),
    utm_last=st.booleans(),
    frag=st.booleans(),
)
@SETTINGS
def test_url_canonicalizer_invariant_under_decorations(
    spark, host, path, www, upper, utm, real_param, utm_last, frag
):
    """canonicalize_url must map every decorated variant of a page to
    the same canonical form as the bare page, while PRESERVING real
    query params."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import canonicalize_url

    base = f"https://{host}.example.com/" + "/".join(path)
    params = [p for p in (utm, real_param) if p]
    if utm_last:
        params = params[::-1]  # exercise '&utm_...$' as well as '?utm_...&'
    decorated = base
    if www:
        decorated = decorated.replace("https://", "https://www.")
    if upper:
        decorated = decorated.upper().replace("HTTPS://", "https://")
    if params:
        decorated += "?" + "&".join(params)
    if frag:
        decorated += "#section-2"
    expected = base + (f"?{real_param}" if real_param else "")

    df = spark.createDataFrame([(decorated,)], "url string").select(
        canonicalize_url(F.col("url")).alias("c")
    )
    got = df.first().c
    assert got == expected.lower(), (decorated, got, expected)


# --------------------------------------------------------------------------
# Round-3 continuation ops: EMA, rolling corr, containment, BM25, PCA
# --------------------------------------------------------------------------

_EPOCH0 = datetime.datetime(2024, 1, 1)

_ema_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user
        st.integers(min_value=0, max_value=50),  # ts second offset (dups ok)
        # value in centi-units — negatives included: the sign-aware
        # HALF_UP (half away from zero) must hold below zero too
        st.integers(min_value=-99999, max_value=99999),
    ),
    min_size=1,
    max_size=40,
)


def _write_events(spark, tmpdir, rows):
    """Materialize a minimal events.parquet an op can read via t()."""
    df = spark.createDataFrame(
        [
            (
                i,
                _EPOCH0 + datetime.timedelta(seconds=off),
                u,
                "view",
                c / 100.0,
                "{}",
            )
            for i, (u, off, c) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    return tmpdir


@SETTINGS
@given(_ema_rows)
def test_ema_matches_exact_decimal_fold(spark, tmp_path_factory, rows):
    """win_ema_smooth must equal a first-principles exact-Decimal fold
    of the truncated closed form (weights 3·7^k/10^(k+1)), rounded
    HALF_UP at 6 dp — the integer-arithmetic plan may not drift from
    the mathematical definition on ANY input, including ts ties."""
    from decimal import ROUND_HALF_UP, Decimal

    from tpc_di_etl_using_pyspark_spark.plans.core_window import win_ema_smooth

    d = str(tmp_path_factory.mktemp("ema"))
    _write_events(spark, d, rows)
    got = {r.event_id: r.ema10 for r in win_ema_smooth(spark, d).collect()}

    W = [Decimal(3 * 7**k) / Decimal(10 ** (k + 1)) for k in range(10)]
    per_user: dict[int, list[tuple]] = {}
    for i, (u, off, c) in enumerate(rows):
        per_user.setdefault(u, []).append((off, i, Decimal(c) / 100))
    want = {}
    for u, seq in per_user.items():
        seq.sort()  # (ts, event_id) total order
        for pos in range(len(seq)):
            acc = Decimal(0)
            for k in range(10):
                if pos - k >= 0:
                    acc += W[k] * seq[pos - k][2]
            eid = seq[pos][1]
            want[eid] = float(
                acc.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )
    assert got == want


_corr_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2_000_000),  # ts offset seconds
        st.integers(min_value=0, max_value=56021),  # value centi-units
    ),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(_corr_rows)
def test_rolling_corr_matches_fraction_exact(spark, tmp_path_factory, rows):
    """win_rolling_corr must equal the exact-rational Pearson formula
    over the trailing 20 rows (computed with Fraction — no float error
    at all), within one 6-dp rounding step, and always lie in [-1, 1]."""
    from fractions import Fraction
    import math

    from tpc_di_etl_using_pyspark_spark.plans.core_window import win_rolling_corr

    d = str(tmp_path_factory.mktemp("corr"))
    _write_events(spark, d, [(1, off, c) for off, c in rows])
    got = {r.event_id: r.corr20 for r in win_rolling_corr(spark, d).collect()}

    seq = sorted((off, i, c) for i, (off, c) in enumerate(rows))
    for pos in range(len(seq)):
        frame = seq[max(0, pos - 19) : pos + 1]
        n = len(frame)
        xs = [Fraction(off) for off, _, _ in frame]
        ys = [Fraction(c) for _, _, c in frame]
        num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
        d1 = n * sum(x * x for x in xs) - sum(xs) ** 2
        d2 = n * sum(y * y for y in ys) - sum(ys) ** 2
        eid = seq[pos][1]
        if d1 == 0 or d2 == 0:
            assert got[eid] is None
        else:
            exact = float(num) / math.sqrt(float(d1) * float(d2))
            assert abs(got[eid] - exact) <= 1.000001e-6
            assert -1.0 <= got[eid] <= 1.0


def test_containment_dominates_jaccard(spark, sf_dir):
    """For every pair, containment = inter/min(|A|,|B|) >= jaccard =
    inter/union, so the jaccard>=0.5 pair set must be a subset of the
    containment>=0.5 pair set on the same corpus."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import (
        dedup_ngram_containment,
        dedup_ngram_jaccard,
    )

    jac = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r.jaccard >= 0.5
    }
    cont = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_containment(spark, sf_dir).collect()
    }
    assert jac <= cont


def test_bm25_hits_contain_query_terms(spark, sf_dir):
    """Every BM25 hit must actually contain >=1 query term, have a
    positive score, and arrive in (score desc, doc_id) order."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import _BM25_TERMS, text_bm25_topk
    from tpc_di_etl_using_pyspark_spark.plans._util import t as _t

    hits = text_bm25_topk(spark, sf_dir).collect()
    assert 0 < len(hits) <= 10
    scores = [r.score for r in hits]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    texts = {
        r.doc_id: r.text
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin([r.doc_id for r in hits]))
        .collect()
    }
    for r in hits:
        words = set(texts[r.doc_id].lower().split(" "))
        assert words & set(_BM25_TERMS)


def test_pca_power_iteration_invariants(spark, sf_dir):
    """v2 must be unit-norm, the Rayleigh estimate positive and no
    greater than the covariance trace (sum of eigenvalues), and the
    iteration must not move the direction much on a corpus whose top
    eigenvalue dominates (|<v1,v2>| -> 1 would be ideal; require the
    overlap to be large and v2 consistent under re-run)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import (
        vec_covariance_matrix,
        vec_pca_power_iteration,
    )

    rows = vec_pca_power_iteration(spark, sf_dir).collect()
    assert len(rows) == 64
    n2 = sum(r.v2 * r.v2 for r in rows)
    assert abs(n2 - 1.0) < 1e-4
    lam = rows[0].top_eigenvalue
    assert all(r.top_eigenvalue == lam for r in rows)
    trace = sum(
        r.cov
        for r in vec_covariance_matrix(spark, sf_dir).collect()
        if r.dim_i == r.dim_j
    )
    assert 0 < lam <= trace + 1e-6


_bloom_words = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(_bloom_words)
def test_bloom_filter_never_false_negative(spark, tmp_path_factory, words):
    """On ANY vocabulary the Bloom op must test every true member
    positive (structural guarantee), and non-member probes may only
    differ by being negative."""
    from tpc_di_etl_using_pyspark_spark.plans.core_agg import sketch_bloom_filter

    d = str(tmp_path_factory.mktemp("bloom"))
    df = spark.createDataFrame(
        [(i, " ".join(words), "en", "src0", len(words)) for i in range(1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = sketch_bloom_filter(spark, d).collect()
    assert all(r.no_false_negative for r in rows)
    members = {r.word for r in rows if r.is_member}
    assert members == set(words)
    for r in rows:
        if r.is_member:
            assert r.bloom_positive


_cms_words = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=4),
    min_size=1,
    max_size=50,
)


@SETTINGS
@given(_cms_words)
def test_count_min_matches_python_replay(spark, tmp_path_factory, words):
    """The CMS op must equal an exact Python replay of the sketch
    (same md5 hashes, same 4x64 counters, same min-over-rows) on ANY
    corpus, and can never underestimate."""
    import hashlib
    from collections import Counter

    from tpc_di_etl_using_pyspark_spark.plans.core_agg import (
        _CMS_DEPTH,
        _CMS_WIDTH,
        sketch_count_min,
    )

    d = str(tmp_path_factory.mktemp("cms"))
    spark.createDataFrame(
        [(0, " ".join(words), "en", "src0", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    exact = Counter(words)

    def bucket(w, j):
        h = int(hashlib.md5(f"{w}:{j}".encode()).hexdigest()[:15], 16)
        return h % _CMS_WIDTH

    counters = {}
    for w, n in exact.items():
        for j in range(_CMS_DEPTH):
            key = (j, bucket(w, j))
            counters[key] = counters.get(key, 0) + n
    want = {
        w: min(counters[(j, bucket(w, j))] for j in range(_CMS_DEPTH))
        for w in exact
    }
    rows = sketch_count_min(spark, d).collect()
    got = {r.word: (r.exact_n, r.cms_n, r.never_underestimates) for r in rows}
    assert set(got) == set(exact)
    for w in exact:
        assert got[w] == (exact[w], want[w], True)
        assert want[w] >= exact[w]


_path_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user
        st.integers(min_value=0, max_value=40),  # ts offset (dups ok)
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=0,
    max_size=30,
)


@SETTINGS
@given(_path_rows)
def test_path_trigrams_match_python_replay(spark, tmp_path_factory, rows):
    """events_path_trigrams must equal a first-principles Python
    replay: per-user (ts, event_id)-ordered type sequences, all
    consecutive triples, global counts, top-20 by (n desc, types)."""
    from collections import Counter

    from tpc_di_etl_using_pyspark_spark.plans.tpcdi_ops import events_path_trigrams

    d = str(tmp_path_factory.mktemp("paths"))
    spark.createDataFrame(
        [
            (i, _EPOCH0 + datetime.timedelta(seconds=off), u, et, 1.0, "{}")
            for i, (u, off, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    per_user: dict[int, list[tuple]] = {}
    for i, (u, off, et) in enumerate(rows):
        per_user.setdefault(u, []).append((off, i, et))
    c: Counter = Counter()
    for seq in per_user.values():
        seq.sort()
        types = [et for _, _, et in seq]
        for k in range(len(types) - 2):
            c[(types[k], types[k + 1], types[k + 2])] += 1
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = [
        (e1, e2, e3, n, rk + 1)
        for rk, ((e1, e2, e3), n) in enumerate(ranked)
    ]
    got = [
        (r.e1, r.e2, r.e3, r.n, r.rk)
        for r in events_path_trigrams(spark, d).orderBy("rk").collect()
    ]
    assert got == want


@SETTINGS
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_md5_sampling_recipe_cross_engine(spark, ids):
    """The deterministic-sampling recipe (60-bit md5 of the id string,
    mod 100) that gates dedup_eval_simhash_recall's truth universe
    must agree bit-for-bit between Spark's
    conv(substr(md5(x),1,15),16,10) and DuckDB's
    CAST(concat('0x',substr(md5(x),1,15)) AS BIGINT) on ARBITRARY
    int64 ids — a disagreement would silently desynchronize the two
    engines' sample sets and surface as an inexplicable parity
    mismatch."""
    import duckdb

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    got = {
        r.doc_id: (r.h, r.bucket)
        for r in df.select(
            "doc_id", h.alias("h"), (h % 100).alias("bucket")
        ).collect()
    }
    con = duckdb.connect()
    want = {
        i: (hh, bb)
        for i, hh, bb in con.execute(
            "SELECT i, CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 15)) AS BIGINT),"
            " CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
            " FROM (SELECT unnest(?) AS i)",
            [ids],
        ).fetchall()
    }
    assert got == want
