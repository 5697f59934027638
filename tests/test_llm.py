"""Self-checks for the LLM ops (SURVEY §5.2.3-4): properties the
DuckDB oracle can't express — LSH candidate soundness, ANN recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from tpc_di_etl_using_pyspark_spark.llm.minhash import (
    jaccard_verify,
    minhash_near_dups,
    shingles,
)
from tpc_di_etl_using_pyspark_spark.llm.similarity import (
    brute_force_topk,
    ivf_topk,
    query_vector,
)
from tpc_di_etl_using_pyspark_spark.llm.simhash import simhash, simhash_near_dups
from tpc_di_etl_using_pyspark_spark.plans._util import t


def test_minhash_pairs_are_true_near_dups(spark, sf_dir):
    """Every LSH-surfaced pair must have exact Jaccard ≥ threshold (the
    verify stage guarantees precision; this is the soundness check)."""
    doc = t(spark, sf_dir, "documents")
    pairs = minhash_near_dups(doc, "doc_id", "text", k=1, threshold=0.5)
    rows = pairs.collect()
    assert len(rows) > 0, "fixture has word-level near-dups; LSH found none"
    assert all(r.jaccard >= 0.5 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH recall on strong pairs (J ≥ 0.8): banding theory says
    1-(1-j^4)^8 ≥ 0.97 at j=0.8 — demand ≥ 0.8 empirically."""
    doc = t(spark, sf_dir, "documents").limit(500)
    sh = shingles(doc, "doc_id", "text", k=1)
    ids = doc.select(F.col("doc_id").alias("doc_a"))
    all_pairs = ids.crossJoin(doc.select(F.col("doc_id").alias("doc_b"))).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_verify(all_pairs, sh, "doc_id", 0.8).collect()
    }
    if not exact:
        return  # no strong pairs at this sf — nothing to measure
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dups(
            doc, "doc_id", "text", k=1, threshold=0.8, max_bucket=None
        ).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} on {len(exact)} strong pairs"


def test_simhash_fingerprint_properties(spark, sf_dir):
    doc = t(spark, sf_dir, "documents")
    fp = simhash(doc, "doc_id", "text")
    assert fp.count() == doc.count()
    # identical text ⇒ identical fingerprint
    dup = doc.select("doc_id", "text").unionByName(
        doc.select((F.col("doc_id") + 10**6).alias("doc_id"), "text")
    )
    fps = simhash(dup, "doc_id", "text").withColumn(
        "orig", F.col("doc_id") % 10**6
    )
    distinct_per_orig = (
        fps.groupBy("orig").agg(F.countDistinct("simhash").alias("n")).agg(F.max("n")).first()[0]
    )
    assert distinct_per_orig == 1


def test_simhash_near_dups_symmetric_bounded(spark, sf_dir):
    doc = t(spark, sf_dir, "documents")
    pairs = simhash_near_dups(doc, "doc_id", "text", max_hamming=12).collect()
    assert all(r.hamming <= 12 and r.doc_a < r.doc_b for r in pairs)


def test_ivf_results_subset_of_brute_force_cell(spark, sf_dir):
    """IVF top-k scores can't beat brute force; overlap with the true
    top-k must be non-trivial for a near-centroid query."""
    emb = t(spark, sf_dir, "embeddings")
    q = query_vector(64)
    bf = brute_force_topk(emb, q, k=50).collect()
    ivf = ivf_topk(emb, q, k=10, n_cells=8).collect()
    assert len(ivf) > 0
    bf_best = bf[0].cos_sim
    assert all(r.cos_sim <= bf_best for r in ivf)
    bf_ids = {r.vec_id for r in bf}
    overlap = sum(1 for r in ivf if r.vec_id in bf_ids)
    assert overlap >= 1, "IVF probe found nothing from the true top-50"


def test_ivf_probing_every_cell_is_brute_force(spark, sf_dir):
    """With n_probe = n_cells the probe filter keeps every vector, so the
    IVF top-k must be exactly the brute-force top-k: same ids, same
    scores, same order."""
    emb = t(spark, sf_dir, "embeddings")
    q = query_vector(64)
    bf = [(r.vec_id, r.cos_sim) for r in brute_force_topk(emb, q, k=10).collect()]
    ivf = [
        (r.vec_id, r.cos_sim)
        for r in ivf_topk(emb, q, k=10, n_cells=8, n_probe=8).collect()
    ]
    assert len(bf) == 10
    assert ivf == bf


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing must tile each source's token stream exactly: offsets in
    [0, 2048), and pack_id*2048 + offset reproduces the exclusive
    running sum (no gaps, no overlaps)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import pack_sequences_greedy

    out = pack_sequences_greedy(spark, sf_dir).collect()
    assert all(0 <= r.offset_in_pack < 2048 for r in out)
    by_source = {}
    for r in out:
        by_source.setdefault(r.source, []).append(r)
    for rows in by_source.values():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.pack_id * 2048 + r.offset_in_pack == cum, r
            cum += r.n_tokens


def test_stratified_sample_exact_fractions(spark, sf_dir):
    """Every stratum contributes exactly ceil(20%) of its rows, and the
    selection is deterministic across invocations."""
    import math

    from pyspark.sql import functions as F

    from tpc_di_etl_using_pyspark_spark.plans.llm import sample_stratified_exact
    from tpc_di_etl_using_pyspark_spark.plans._util import t

    sizes = {
        r.lang: r.n
        for r in t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = sample_stratified_exact(spark, sf_dir)
    counts = {
        r.lang: r.n
        for r in got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {k: math.ceil(0.2 * v) for k, v in sizes.items()}
    again = set(r.doc_id for r in sample_stratified_exact(spark, sf_dir).collect())
    assert again == set(r.doc_id for r in got.collect())


def test_pagerank_sane(spark, sf_dir):
    """Ranks stay positive, bounded, and non-uniform after 4 rounds;
    total mass stays within the damping leak bound."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import graph_pagerank

    rows = graph_pagerank(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r.rank_micro for r in rows)
    assert all(r.rank_micro >= 150000 for r in rows)
    assert len(set(r.rank_micro for r in rows)) > 1
    # mass: base 0.15 plus damped inflow ≤ 1.0 per node (integer floor
    # plus dangling-edge leakage only ever lose mass)
    assert total <= n * 1000000


def test_candidate_bucket_caps_idle_on_fixture(spark, sf_dir):
    """Occupancy caps in candidate generators certified against the
    brute-force oracle (minhash banding; simhash's cap is exempt — its
    oracle replays the cap, see plans/llm.py _SIMHASH_MIRROR_SQL) must
    be INERT on the certification fixtures (max bucket << 200), so the
    capped Spark plans stay equal to their uncapped exact oracles.
    This is the guard that catches fixture drift before the driver
    does."""
    doc = t(spark, sf_dir, "documents")
    # minhash band buckets guard BOTH dedup_minhash_lsh and the
    # corpus-side cap in pipeline_incremental_dedup
    from tpc_di_etl_using_pyspark_spark.llm.minhash import (
        band_keys,
        minhash_signature,
    )

    bk = band_keys(
        minhash_signature(shingles(doc, "doc_id", "text", 3), "doc_id", 32),
        "doc_id",
        32,
        8,
    )
    mh_occ = (
        bk.groupBy("band_idx", "band_key").count().agg(F.max("count")).first()[0]
    )
    assert mh_occ <= 150, f"minhash band bucket {mh_occ} near cap 200"


def test_simhash_mirror_oracle_with_cap_active(spark, sf_dir):
    """dedup_simhash's oracle replays the WHOLE capped pipeline, so
    Spark must equal DuckDB even on a corpus where the occupancy cap
    actually drops buckets — the case a cap-inert fixture never
    exercises (this divergence was only caught at sf0.1 in round 3)."""
    import duckdb
    import pandas as pd

    from tpc_di_etl_using_pyspark_spark.plans.llm import _SIMHASH_MIRROR_SQL
    from tpc_di_etl_using_pyspark_spark.llm.minhash import jaccard_verify, shingles
    from tpc_di_etl_using_pyspark_spark.llm.simhash import simhash_candidate_pairs

    base = (
        t(spark, sf_dir, "documents").select("doc_id", "text").limit(40).toPandas()
    )
    # 250 clones of one text (> cap 200): every slice bucket they share
    # is overfull and must be dropped identically by both engines
    clones = pd.DataFrame(
        {"doc_id": [10**6 + i for i in range(250)], "text": [base.text.iloc[0]] * 250}
    )
    pdf = pd.concat([base, clones], ignore_index=True)

    doc = spark.createDataFrame(pdf)
    cand = simhash_candidate_pairs(doc, "doc_id", "text")
    sh = shingles(doc, "doc_id", "text", k=3)
    got = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in jaccard_verify(cand, sh, "doc_id", threshold=0.5).collect()
    )

    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        (a, b, round(float(j), 6)) for a, b, j in con.sql(_SIMHASH_MIRROR_SQL).fetchall()
    )
    assert got == want
    # sanity: the cap actually fired (clone pairs were suppressed;
    # uncapped, 250 clones alone would emit 250*249/2 ≈ 31k pairs)
    assert len(want) < 5_000


def test_simhash_cap_bounds_boilerplate_corpus(spark, sf_dir):
    """A boilerplate-heavy corpus (one text repeated 600x > cap 200)
    must NOT go quadratic: the over-full buckets are dropped, so the
    capped candidate count stays bounded while the uncapped generator
    would emit ~600^2/2 pairs from the clones alone."""
    from tpc_di_etl_using_pyspark_spark.llm.simhash import simhash_candidate_pairs

    doc = t(spark, sf_dir, "documents").limit(50)
    clones = spark.range(600).crossJoin(
        doc.limit(1).select(F.col("text"))
    ).select((F.col("id") + 10**6).alias("doc_id"), "text")
    corpus = doc.select("doc_id", "text").unionByName(clones)
    capped = simhash_candidate_pairs(corpus, "doc_id", "text", max_bucket=200)
    n_capped = capped.count()
    # 600 clones alone would contribute 600*599/2 = 179_700 pairs
    assert n_capped < 100_000, f"cap failed to bound fan-out: {n_capped}"
    # cap=None restores the quadratic behavior (sanity that the knob works)
    n_uncapped = simhash_candidate_pairs(
        corpus, "doc_id", "text", max_bucket=None
    ).count()
    assert n_uncapped >= 179_700


def test_ann_recall_eval_bounds_and_self_consistency(spark, sf_dir):
    """recall@10 is in [0,1], n_hits = 10*recall, and at least one
    probe query achieves nonzero recall (the IVF cell of a query
    contains at least some of its true neighbors on the fixtures)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import sim_ann_recall_eval

    rows = sim_ann_recall_eval(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r.n_hits <= 10
        assert abs(r.recall_at_10 - r.n_hits / 10.0) < 1e-12
    assert any(r.n_hits > 0 for r in rows)


def test_pretrain_e2e_is_subset_of_curation_stages(spark, sf_dir):
    """The e2e pipeline output must be a subset of the plain
    curation output (it applies strictly more filters: near-dup
    removal, benchmark-source exclusion, contamination screen), and
    must contain no near-dup doc_b member and no src0 doc."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import (
        dedup_minhash_lsh,
        pipeline_corpus_curation,
        pipeline_pretrain_e2e,
    )

    e2e = pipeline_pretrain_e2e(spark, sf_dir)
    cur = pipeline_corpus_curation(spark, sf_dir)
    extra = e2e.select("doc_id").exceptAll(cur.select("doc_id"))
    assert extra.count() == 0
    srcs = (
        e2e.join(t(spark, sf_dir, "documents"), "doc_id")
        .select("source")
        .distinct()
        .collect()
    )
    assert all(r.source != "src0" for r in srcs)
    kept = {r.doc_id for r in e2e.collect()}
    nd = dedup_minhash_lsh(spark, sf_dir).collect()
    gated = {r.doc_id for r in cur.collect()}
    for p in nd:
        # if both ends survived gating and the pair is a near-dup,
        # the higher id must have been dropped
        if p.doc_a in kept and p.doc_b in gated:
            assert p.doc_b not in kept


def test_twap_matches_manual_per_user(spark, sf_dir):
    """Spot-check the time-weighted average against a driver-side
    manual computation for a few users."""
    from tpc_di_etl_using_pyspark_spark.plans.core_window import (
        win_time_weighted_avg,
    )

    got = {r.user_id: r.twap for r in win_time_weighted_avg(spark, sf_dir).collect()}
    ev = (
        t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append(r)
    for uid in list(per_user)[:5]:
        rows = sorted(per_user[uid], key=lambda r: (r.ts, r.event_id))
        num = den = 0.0
        for a, b in zip(rows, rows[1:]):
            dt = (b.ts - a.ts).total_seconds() * 1e6
            num += a.value * dt
            den += dt
        if den > 0:
            assert abs(got[uid] - num / den) < 1e-4


def test_ivf_multiprobe_dominates_single_probe(spark, sf_dir):
    """Probing 2 cells searches a strict superset of 1 cell, so the
    multiprobe top-10 must be pointwise at least as similar as the
    single-probe top-10."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import (
        sim_ivf_multiprobe_topk,
        sim_ivf_topk,
    )

    one = [r.cos_sim for r in sim_ivf_topk(spark, sf_dir).collect()]
    two = [r.cos_sim for r in sim_ivf_multiprobe_topk(spark, sf_dir).collect()]
    assert len(two) == len(one)
    for a, b in zip(two, one):
        assert a >= b


def test_substring_windows_fractions_and_cross_doc(spark, sf_dir):
    """dup_frac in [0,1]; duplicated windows require >= 2 DISTINCT docs
    (a doc repeating its own text must not self-flag), and the fixture's
    near-dup docs must surface a non-zero duplicated population."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import dedup_substring_windows

    out = dedup_substring_windows(spark, sf_dir)
    rows = out.collect()
    assert all(0.0 <= r.dup_frac <= 1.0 for r in rows)
    assert all(r.n_dup_windows <= r.n_windows for r in rows)
    assert sum(r.n_dup_windows for r in rows) > 0, (
        "fixture near-dups share 10-token windows; none flagged"
    )
    # per-doc coverage: one row per document
    n_docs = t(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs


def test_keyword_topk_shape(spark, sf_dir):
    """Exactly <= 3 keywords per doc, ranks are 1..k with no gaps."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import text_keyword_topk

    out = text_keyword_topk(spark, sf_dir)
    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rnk").alias("lo"),
        F.max("rnk").alias("hi"),
    )
    bad = per_doc.filter(
        (F.col("n") > 3) | (F.col("lo") != 1) | (F.col("hi") != F.col("n"))
    )
    assert bad.count() == 0


def test_snapshot_novelty_first_snapshot_is_all_novel(spark, sf_dir):
    """src0 (the earliest snapshot) is 100% novel by construction;
    every fraction is in (0, 1]."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import text_snapshot_novelty

    rows = text_snapshot_novelty(spark, sf_dir).collect()
    by_src = {r.src_num: r for r in rows}
    assert by_src[0].novelty_frac == 1.0
    assert all(0.0 < r.novelty_frac <= 1.0 for r in rows)
    assert all(r.n_novel <= r.n_grams for r in rows)


def test_phash_neardup_finds_every_recrawl_copy(spark, sf_dir):
    """Every re-crawled blob (doc_id % 10 == 0, id + 1M) is byte-identical
    to its original, so the pair (x, x+1M) must appear at Hamming 0 —
    unless its every slice bucket was capped, which the fixture doesn't
    trigger (cap-idle asserted alongside)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import multimodal_phash_neardup

    out = multimodal_phash_neardup(spark, sf_dir)
    rows = out.collect()
    doc = t(spark, sf_dir, "documents")
    expected = {
        (r.doc_id, r.doc_id + 1000000)
        for r in doc.filter(F.col("doc_id") % 10 == 0).select("doc_id").collect()
    }
    got_zero = {(r.doc_a, r.doc_b) for r in rows if r.hamming == 0}
    assert expected <= got_zero
    assert all(r.hamming <= 6 for r in rows)


def test_cross_source_matrix_totals_match_pair_count(spark, sf_dir):
    """The matrix is a partition of the verified near-dup pair set:
    sum of n_pairs == count of minhash near-dup pairs, and the matrix
    is upper-triangular (src_lo <= src_hi)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import dedup_cross_source_matrix

    doc = t(spark, sf_dir, "documents")
    n_pairs_direct = minhash_near_dups(
        doc, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
    ).count()
    rows = dedup_cross_source_matrix(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in rows) == n_pairs_direct
    assert all(r.src_lo <= r.src_hi for r in rows)
    assert all(0.5 <= r.avg_jaccard <= 1.0 for r in rows)


def test_gopher_filter_rules_consistent(spark, sf_dir):
    """passes <=> failed_rules empty; both populations non-trivial on
    the fixture (thresholds are calibrated to exercise every rule)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import text_quality_gopher

    rows = text_quality_gopher(spark, sf_dir).collect()
    assert all((r.failed_rules == "") == r.passes for r in rows)
    n_pass = sum(1 for r in rows if r.passes)
    assert 0 < n_pass < len(rows)
    names = {
        n for r in rows if r.failed_rules for n in r.failed_rules.split(",")
    }
    assert names <= {"word_count", "mean_word_length", "repetition", "stopwords"}
    assert "word_count" in names


def test_chunk_overlap_covers_every_token(spark, sf_dir):
    """Chunks tile each doc: idx contiguous from 0, consecutive full
    chunks share exactly the 8-token overlap, and the union of
    [start, start+n) intervals covers 1..len(words)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import text_chunk_overlap

    out = text_chunk_overlap(spark, sf_dir)
    doc = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("len")
    )
    per = (
        out.groupBy("doc_id")
        .agg(
            F.min("chunk_idx").alias("lo"),
            F.max("chunk_idx").alias("hi"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.max(F.col("chunk_idx") * 24 + F.col("n_tokens")).alias("covered"),
        )
        .join(doc, "doc_id")
    )
    bad = per.filter(
        (F.col("lo") != 0)
        | (F.col("hi") != F.col("n_chunks") - 1)
        | (F.col("covered") < F.col("len"))
    )
    assert bad.count() == 0
    assert out.filter(F.col("n_tokens") > 32).count() == 0


def test_perplexity_buckets_are_balanced_tertiles(spark, sf_dir):
    """NTILE(3) invariant: within each lang, bucket sizes differ by at
    most 1 and head has the lowest NLL range."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import text_perplexity_bucket

    rows = text_perplexity_bucket(spark, sf_dir).collect()
    from collections import defaultdict

    sizes = defaultdict(lambda: defaultdict(int))
    nlls = defaultdict(lambda: defaultdict(list))
    for r in rows:
        sizes[r.lang][r.ppl_bucket] += 1
        nlls[r.lang][r.ppl_bucket].append(r.avg_nll)
    for lang, buckets in sizes.items():
        if sum(buckets.values()) >= 3:
            assert max(buckets.values()) - min(buckets.values()) <= 1, lang
            assert max(nlls[lang]["head"]) <= min(nlls[lang]["tail"]), lang


def test_covariance_matrix_shape_and_psd_diagonal(spark, sf_dir):
    """2080 upper-triangular entries, every n = corpus size, diagonal
    (variance) non-negative; and the plan never shuffles on vec_id —
    the pair products are generated map-side."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import vec_covariance_matrix

    df = vec_covariance_matrix(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the invariant is "no JOIN-induced vec_id shuffle" (the pair
    # products are generated map-side, never via self-join). The r13
    # spread_scan re-spread IS a declared vec_id hash repartition of
    # the one-task fixture scan (REPARTITION_BY_NUM origin) — allow
    # exactly that origin, nothing else.
    import re as _re

    for ln in plan.splitlines():
        if "hashpartitioning(vec_id" in ln:
            assert "REPARTITION_BY_NUM" in ln, ln
    assert not _re.search(r"(SortMergeJoin|ShuffledHashJoin).*vec_id", plan)
    rows = df.collect()
    assert len(rows) == 64 * 65 // 2
    n_vecs = t(spark, sf_dir, "embeddings").count()
    assert all(r.n == n_vecs for r in rows)
    diag = [r.cov for r in rows if r.dim_i == r.dim_j]
    assert len(diag) == 64 and all(v >= -1e-9 for v in diag)


def test_rag_e2e_topk_properties(spark, sf_dir):
    """Exactly 5 results, scores strictly ordered (position penalty
    breaks doc-level ties), every result's chunk really comes from its
    doc's chunk grid."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import (
        pipeline_rag_e2e,
        text_chunk_overlap,
    )

    rows = pipeline_rag_e2e(spark, sf_dir).collect()
    assert len(rows) == 5
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    grid = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in text_chunk_overlap(spark, sf_dir)
        .join(
            spark.createDataFrame(
                [(r.doc_id,) for r in rows], "doc_id long"
            ).distinct(),
            "doc_id",
        )
        .collect()
    }
    for r in rows:
        assert grid[(r.doc_id, r.chunk_idx)] == r.chunk_text


def test_url_canonical_collapses_variants(spark, sf_dir):
    """Docs 0, 20, 40 (for example) share source-and-path but differ in
    WWW/utm/fragment decoration — the canonicalizer must collapse them;
    no canonical URL may retain utm params, fragments, or WWW."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import dedup_url_canonical

    rows = dedup_url_canonical(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert "utm_" not in r.canonical_url
        assert "#" not in r.canonical_url
        assert "www." not in r.canonical_url
        assert r.canonical_url == r.canonical_url.lower()
        assert r.n_docs > 1


def test_ccnet_e2e_accounting_consistent(spark, sf_dir):
    """Bucket accounting must be internally consistent: n_kept <=
    n_docs, tail buckets keep nothing, per-lang bucket doc counts are
    NTILE-balanced, and total docs across buckets == corpus size."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import pipeline_ccnet_e2e

    rows = pipeline_ccnet_e2e(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == t(spark, sf_dir, "documents").count()
    for r in rows:
        assert 0 <= r.n_kept <= r.n_docs
        if r.ppl_bucket == "tail":
            assert r.n_kept == 0 and r.kept_tokens == 0
        if r.n_kept == 0:
            assert r.kept_tokens == 0
    from collections import defaultdict

    per_lang = defaultdict(dict)
    for r in rows:
        per_lang[r.lang_pred][r.ppl_bucket] = r.n_docs
    for lang, buckets in per_lang.items():
        if sum(buckets.values()) >= 3:
            assert max(buckets.values()) - min(buckets.values()) <= 1, lang


def test_epoch_shuffle_is_deterministic_permutation(spark, sf_dir):
    """Every epoch is a permutation of the corpus (each doc exactly
    once per epoch), shard positions are contiguous from 1, and epochs
    produce DIFFERENT orders (the point of reshuffling)."""
    from tpc_di_etl_using_pyspark_spark.plans.llm import sample_epoch_shuffle

    out = sample_epoch_shuffle(spark, sf_dir)
    n_docs = t(spark, sf_dir, "documents").count()
    per_epoch = out.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("nd")
    )
    assert all(r.n == n_docs and r.nd == n_docs for r in per_epoch.collect())
    shard_ok = out.groupBy("epoch", "shard").agg(
        F.min("pos_in_shard").alias("lo"),
        F.max("pos_in_shard").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    assert (
        shard_ok.filter(
            (F.col("lo") != 1) | (F.col("hi") != F.col("n"))
        ).count()
        == 0
    )
    # different epochs put at least one doc in different shards
    moved = (
        out.filter(F.col("epoch") == 0)
        .select("doc_id", F.col("shard").alias("s0"))
        .join(
            out.filter(F.col("epoch") == 1).select(
                "doc_id", F.col("shard").alias("s1")
            ),
            "doc_id",
        )
        .filter(F.col("s0") != F.col("s1"))
    )
    assert moved.count() > 0
