"""MinHash + LSH near-duplicate detection, expression-only.

Pipeline (all Catalyst expressions — no MLlib, no Python UDFs):

1. shingle: words → k-word shingles (``sequence`` + ``transform`` +
   ``slice``), exploded with duplicates kept (every consumer below is
   duplicate-insensitive, so no dedup shuffle).
2. signature: per doc, ``min(xxhash64(shingle, seed))`` for each of
   ``num_hashes`` seeds — one shuffle (groupBy doc_id), map-side
   partial aggregation keeps it scalable.
3. bands: signature split into ``bands`` groups of ``rows_per_band``;
   band key = hash of the group → docs sharing any band key are
   candidates (standard LSH banding).
4. candidates: ONE band-keyed aggregation collects each bucket's
   sorted member ids and the a<b pairs are generated map-side from
   the array (posexplode + tail slice) — no self-join, so the
   signature pipeline is evaluated once. An occupancy window on the
   same band key (same exchange, sort-based so it spills) drops
   over-``max_bucket`` buckets BEFORE the collect, keeping every
   aggregation buffer bounded by the cap.
5. verify: exact shingle-set Jaccard on candidates only.

At 100 TB: stages 1-3 are narrow + one keyed shuffle; stage 4's pair
fan-out is controlled by band width (r ↑ → fewer, higher-precision
candidates) and the bucket cap. ``max_bucket=None`` disables the cap —
then one boilerplate bucket (empty docs, shared headers) concentrates
its full member array and its n²/2 pair generation on a SINGLE task
with an unbounded aggregation buffer; use it only on corpora known to
have no degenerate buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """k-word shingles per document: (id, shingle), duplicates kept.

    No dedup shuffle here on purpose: every consumer is
    duplicate-insensitive (signature takes per-seed MIN, verification
    builds collect_set), so deduping would add a full (id, shingle)
    shuffle for nothing. Callers needing distinct shingles add their
    own dropDuplicates.

    Docs with fewer than k words emit ZERO shingles — the same
    convention every DuckDB oracle implements (out-of-range word
    indexes make the gram NULL, which then joins nothing). The
    earlier clipped-short-gram behavior silently diverged from the
    mirrors on short docs (a hostile fixture's 1-2 word docs showed it
    through dedup_simhash's fingerprints); absent-from-index is also the
    right dedup semantics — a 1-2 word doc has no k-gram identity.
    """
    # materialize the split in its own projection BEFORE the transform
    # lambda touches it: slicing an inline split expression re-runs the
    # split once per shingle (O(words²) string work per row; same
    # hazard text_ngram_topk documents — fixing it there measured
    # 3.34 s → 0.48 s at sf0.1)
    ws = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("_ws")
    )
    idx = F.when(
        F.size("_ws") >= k, F.sequence(F.lit(1), F.size("_ws") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(F.col("_ws"), i, k))
    )
    return ws.select(F.col(id_col), F.explode(grams).alias("shingle"))


def minhash_signature(
    sh: DataFrame, id_col: str, num_hashes: int = 32
) -> DataFrame:
    """Per-doc minhash signature as columns mh0..mh{n-1} (one shuffle)."""
    # SQL text, not nested F.* calls: one py4j round trip per aggregate
    # instead of about three per function
    aggs = [
        F.expr(f"min(xxhash64(shingle, {s})) AS mh{s}") for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def explode_bands(
    df: DataFrame, keep: list[str], idx: str, key: str, keys: list[str]
) -> DataFrame:
    """(keep..., idx, key): one row per SQL expression in ``keys``, its
    position as ``idx`` and its value as ``key``.

    The band/slice builder every LSH generator shares: minhash bands,
    simhash fingerprint slices, random-hyperplane bands. All the keys
    are one SQL expression, so the build is one round trip however many
    there are (see minhash_signature); struct(... AS ...) prints like
    F.struct, so the plan is the one the F.* form builds.
    """
    cols = [f"`{c}`" for c in keep]
    structs = ", ".join(
        f"struct({i} AS {idx}, {k} AS {key})" for i, k in enumerate(keys)
    )
    return df.selectExpr(*cols, f"explode(array({structs})) AS bk").selectExpr(
        *cols, f"bk.{idx} AS {idx}", f"bk.{key} AS {key}"
    )


def band_keys(
    sig: DataFrame, id_col: str, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(id, band_idx, band_key) — one row per band."""
    rows_per_band = num_hashes // bands
    keys = [
        "xxhash64("
        + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    ]
    return explode_bands(sig, [id_col], "band_idx", "band_key", keys)


def cap_buckets(
    df: DataFrame, keys: list[str], max_bucket: int | None, min_size: int = 1
) -> DataFrame:
    """Rows of the ``keys`` buckets holding ``min_size``..``max_bucket`` rows.

    The occupancy cap every candidate generator shares: a bucket of n
    docs yields n²/2 pairs, so one boilerplate bucket (empty docs,
    shared headers) can dominate the whole job. The count is a window
    partitioned by ``keys``, so when the caller then groups or joins on
    the same keys it shares that one exchange, and its sort-based
    buffering spills. Pair generators pass ``min_size=2`` (a singleton
    yields no pair); a standing index keeps singletons, which a new doc
    can still match. ``max_bucket=None`` returns ``df`` itself.
    """
    if max_bucket is None:
        return df
    occ = F.col("_occ")
    keep = occ <= max_bucket
    if min_size > 1:
        keep = (occ >= min_size) & keep
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_occ", F.count(F.lit(1)).over(w))
        .filter(keep)
        .drop("_occ")
    )


def candidate_pairs(
    bk: DataFrame, id_col: str, max_bucket: int | None = 200
) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing ≥1 band bucket, doc_a < doc_b.

    Buckets larger than ``max_bucket`` are dropped before any pair is
    generated (``cap_buckets``), which bounds the pair fan-out at any
    corpus size. ``None`` disables the cap (full banding-theory
    recall, unbounded worst case: the whole bucket is then collected
    into one aggregation buffer and its pairs generated by one task —
    see module docstring).

    Shape: ONE aggregation on the band key collects each bucket's
    sorted member ids and the a<b pairs are generated MAP-SIDE from
    each bucket row (posexplode + slice of the tail). A self-join of
    the band relation would evaluate the whole signature pipeline
    twice (once per join side); this form evaluates it once and
    shuffles the band relation once. Identical output: sorted ids make
    every in-bucket pair (ids[i], ids[j]), i < j, exactly the
    doc_a < doc_b join result — size(collect_set) ≡ the occupancy
    COUNT because (id, band) rows are unique by construction.

    Bounded state: the cap is applied BEFORE the collect, and its
    window partitions by exactly the aggregation's keys, so it shares
    the one exchange (no extra shuffle) and every collect_set buffer
    downstream is bounded by ``max_bucket``. Filtering AFTER the
    collect would let one degenerate bucket materialize a
    multi-million-element array in a single unspillable aggregation
    buffer at corpus scale.
    """
    bk = cap_buckets(bk, ["band_idx", "band_key"], max_bucket, min_size=2)
    buckets = bk.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_set(F.col(id_col))).alias("_ids")
    )
    buckets = buckets.filter(F.size("_ids") >= 2)
    return (
        buckets.select(F.col("_ids"), F.posexplode("_ids").alias("_i", "doc_a"))
        .select(
            "doc_a",
            F.explode(
                F.slice(F.col("_ids"), F.col("_i") + 2, F.size("_ids"))
            ).alias("doc_b"),
        )
        .dropDuplicates()
    )


def jaccard_verify(
    pairs: DataFrame,
    sh: DataFrame,
    id_col: str,
    threshold: float,
    prune_sets: bool = False,
) -> DataFrame:
    """Exact Jaccard on candidate pairs; keeps pairs ≥ threshold.

    Strategy: one groupBy builds a per-doc shingle-set array, then the
    (small) candidate set joins to it twice and intersects the arrays
    in-expression. Compared with joining the exploded (doc, shingle)
    relation per side, this replaces two wide shuffle joins with two
    doc-keyed joins against a relation of one row per document —
    at corpus scale the candidate side is tiny after LSH banding, so
    both joins broadcast.

    ``prune_sets`` restricts the set-building aggregation itself to
    docs that appear in ``pairs`` (broadcast semi-join on the id
    union): verify cost becomes proportional to the CANDIDATE set,
    not the corpus — the right shape at 100 TB where candidates touch
    a vanishing fraction of documents. Costs one extra evaluation of
    ``pairs`` (to derive the id set), so callers should pass a cheap
    or checkpointed candidate relation when enabling it.
    """
    if prune_sets:
        ids = (
            pairs.select(F.col("doc_a").alias(id_col))
            .union(pairs.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        sh = sh.join(F.broadcast(ids), id_col, "left_semi")
    # intersect 64-bit shingle HASHES, not strings: per-pair
    # array_intersect over ~150-element long arrays is several times
    # cheaper than over strings (measured ~8 s → ~3 s on 835k simhash
    # candidates at sf0.1). |set| and |intersection| are preserved
    # unless xxhash64 collides within a compared pair — ~2^-64 per
    # shingle pair, negligible against the corpus sizes this runs at.
    sets = sh.groupBy(id_col).agg(
        F.collect_set(F.xxhash64("shingle")).alias("sh_set")
    )
    # LOSSLESS size-ratio prefilter, applied INLINE between the joins
    # and the intersect: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so any
    # pair passing the threshold has set sizes within a factor
    # 1/threshold; pairs failing it skip the array_intersect entirely.
    # The former form materialized a separate counts relation and
    # joined it per side BEFORE the array joins — that made FOUR
    # references to ``sets``, and Catalyst
    # re-ran the corpus-wide groupBy+collect_set once per reference
    # (plan-counted 4× subtrees in that form). Two references build
    # the aggregation twice instead of four times and halve the join
    # count; the candidate side stays the broadcast build side either
    # way, so the arrays still stream map-side and are only
    # intersected for pairs the size filter admits (measured 2.56 →
    # 2.00 s on the dedup_minhash_lsh shape at sf0.1, outputs
    # set-identical). Recall is exactly preserved.
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("sh_set").alias("_set_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("sh_set").alias("_set_b"))
    na, nb = F.size("_set_a"), F.size("_set_b")
    n_inter = F.size(F.array_intersect("_set_a", "_set_b"))
    n_union = na + nb - n_inter
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.least(na, nb) >= F.lit(threshold) * F.greatest(na, nb))
        .withColumn("jaccard", n_inter / n_union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = 200,
    checkpoint: bool = True,
) -> DataFrame:
    """Full pipeline: near-dup pairs (doc_a < doc_b) with exact Jaccard.

    ``checkpoint`` caches the shingle relation (MEMORY_AND_DISK) — it
    feeds both the signature path and the verify path, so without it
    the scan + explode runs twice. cache() beats localCheckpoint here:
    same single-computation reuse, but no eager materialization job and
    no partition pinning (measured 3.5× faster at sf0.1; at cluster
    scale the storage fraction bounds the footprint and spills).
    Disable for a purely lazy plan.
    """
    # layout-gated re-spread: a single-row-group fixture scan hands
    # the whole corpus to ONE task, and cache() preserves partitioning
    # — so the shingle explode, the 32-min signature partial
    # aggregation and the set-build partial aggregation all
    # serialized on one core. For an input that is already wide (e.g.
    # the post-shuffle corpus a pipeline passes in) the gate is false
    # and nothing is added.
    # Measured 1.39 → 0.83 s on dedup_minhash_lsh at sf0.1.
    from ..plans._util import spread_scan

    df = spread_scan(df, id_col)
    sh = shingles(df, id_col, text_col, k)
    if checkpoint:
        sh = sh.cache()
    sig = minhash_signature(sh, id_col, num_hashes)
    bk = band_keys(sig, id_col, num_hashes, bands)
    cand = candidate_pairs(bk, id_col, max_bucket)
    return jaccard_verify(cand, sh, id_col, threshold)
