"""SimHash near-duplicate fingerprinting, expression-only and
oracle-mirrorable.

60-bit SimHash: hash each word to 60 bits (the first 15 hex chars of
md5 — chosen over xxhash64 because BOTH engines can compute it, so the
differential oracle can replay the entire pipeline, see below); per
document, each bit position accumulates +1/−1 by whether the word-hash
has that bit set; the fingerprint's bit i is 1 iff the accumulated
weight is positive. Near-dups = fingerprints within a small Hamming
distance.

Implementation is one groupBy(doc) computing all 60 bit-sums as plain
conditional aggregates — a single shuffle whose payload is one bigint
per word. Pair search blocks on 15-bit slices of the fingerprint (a
Hamming-≤3 pair must agree exactly on ≥1 of 4 slices — pigeonhole),
so the self-join is keyed, never cartesian.

Why md5-derived instead of xxhash64: with an engine-private hash the
DuckDB oracle could only be the exact brute-force answer, so the
certification silently depended on the capped candidate stage having
full recall — which broke at sf0.1 (slice buckets above the
occupancy cap dropped 5 true Hamming-≤3 pairs, and 2 high-Jaccard
pairs sat at Hamming 39/49, outside any slice radius). With a hash
both engines compute, the oracle replays fingerprints, slicing, the
occupancy cap, and the candidate join EXACTLY — the approximation is
certified as specified at any scale instead of asserted empirically
at one (the same design `sim_rp_lsh_cosine` uses for its
LCG-deterministic planes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .minhash import cap_buckets, explode_bands

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits BIGINT in both engines


def word_hash(col) -> F.Column:
    """60-bit word hash both engines compute identically:
    Spark  conv(substring(md5(w), 1, 15), 16, 10)::long
    DuckDB CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) — 60-bit fingerprint as a bigint.

    The 60 per-bit ±1 sums are plain conditional SUM aggregates over
    the exploded (doc, word-hash) relation: one groupBy(doc) shuffle
    whose payload is 60 longs per doc, all whole-stage codegen with
    map-side partial aggregation. (An earlier version collected the
    hash list per doc and folded it with per-bit `F.aggregate` HOF
    lambdas — interpreted per element, measured ~3× slower at sf0.1,
    the same anti-pattern the rp-LSH signature pass had.) Integer sums
    are order-exact, so fingerprints are deterministic at any
    parallelism. Tokenization is a single-space split (mirroring the
    oracle's string_split), like the shingle ops.
    """
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    )
    # bag semantics via count weights: md5 runs once per DISTINCT
    # (doc, word) instead of once per occurrence (measured ~2× op
    # speedup at sf0.1 — the md5+conv hash is the dominant cost), and
    # the (doc, word) pre-aggregation combines map-side
    wc = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("cnt"))
    hashed = wc.select(id_col, "cnt", word_hash(F.col("word")).alias("h"))
    aggs = [
        F.sum(
            F.when(
                F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = hashed.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return per_doc.select(id_col, fp.alias("simhash"))


def hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def fingerprint_slices(fp: DataFrame, id_col: str, chunk_bits: int) -> DataFrame:
    """(id, simhash, chunk_idx, chunk): one row per (doc, slice), the
    fingerprint split into 60/chunk_bits equal bit slices. By
    pigeonhole, two fingerprints within Hamming distance
    (60/chunk_bits − 1) agree exactly on ≥1 slice, so a self-join keyed
    on (chunk_idx, chunk) finds every such pair without a cartesian
    product. chunk_bits is the recall/cost knob: narrower slices catch
    larger Hamming radii but make bigger (more collision-prone) join
    buckets.
    """
    mask = (1 << chunk_bits) - 1
    slices = [
        f"shiftrightunsigned(simhash, {i * chunk_bits}) & {mask}"
        for i in range(SIMHASH_BITS // chunk_bits)
    ]
    return explode_bands(fp, [id_col, "simhash"], "chunk_idx", "chunk", slices)


def fingerprint_pairs(
    fp: DataFrame,
    id_col: str,
    max_hamming: int,
    chunk_bits: int = 15,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Pairs (doc_a < doc_b, hamming ≤ max_hamming) of the 60-bit
    fingerprints in ``fp`` (id, simhash), blocked on slice equality.

    Complete (finds every qualifying pair) only while
    max_hamming < 60/chunk_bits; beyond that the blocking can miss a
    pair whose differing bits spread across every slice. Slices with
    more than ``max_bucket`` occupants are dropped before the
    self-join (``cap_buckets``): one boilerplate fingerprint slice
    (empty docs, shared headers) would make the join quadratic at
    corpus scale. The cap is part of the op's SPECIFIED semantics and
    is mirrored in the SQL oracle, so capped recall is certified, not
    hidden.
    """
    chunks = cap_buckets(
        fingerprint_slices(fp, id_col, chunk_bits),
        ["chunk_idx", "chunk"],
        max_bucket,
    )
    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk"
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk"
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunk_bits: int = 15,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming ≤ max_hamming) of the
    documents' simhash fingerprints (see ``fingerprint_pairs``)."""
    return fingerprint_pairs(
        simhash(df, id_col, text_col), id_col, max_hamming, chunk_bits, max_bucket
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_bits: int = 15,
    max_bucket: int | None = 200,
    max_hamming: int = 6,
) -> DataFrame:
    """Distinct (doc_a, doc_b) agreeing on ≥1 un-capped fingerprint
    slice AND within ``max_hamming`` full-fingerprint Hamming distance
    — simhash as the candidate generator for an exact verify stage
    (15-bit slices ⇒ complete for Hamming ≤ 3 while every shared
    slice stays under ``max_bucket`` occupants; over-full slices are
    dropped before the self-join, see ``fingerprint_pairs``).

    The Hamming prefilter runs INSIDE the slice join before the
    pair-dedup shuffle: one xor+popcount per joined row prunes the
    correlated-vocabulary collision pairs (sf0.1: 215k slice-sharing
    pairs → a few hundred) so the expensive set-intersection verify
    stage downstream only sees plausibly-duplicate pairs — the
    standard simhash contract, where fingerprint distance IS the
    near-dup test and verification is a precision pass. Every step —
    fingerprint, slicing, cap, join, Hamming cut — is replayed
    verbatim by the SQL oracle in plans/llm.py (dedup_simhash), so the
    generator's recall is part of the certified contract.

    Kept apart from ``fingerprint_pairs`` on purpose: this form
    localCheckpoints the capped slices and applies the Hamming cut
    before the pair dedup, so sharing the self-join would change its
    plan."""
    # localCheckpoint: both self-join branches read the chunked
    # fingerprints — uncomputed, the 60-aggregate fingerprint plan
    # (expensive to codegen-compile AND to run) executes twice.
    # Measured at sf0.1: localCheckpoint 2.4 s vs .cache() 3.5-4.0 s
    # (InMemoryRelation build pays the giant fingerprint expression in
    # the columnar-cache writer) vs uncached 3.3-9.5 s. The capped
    # relation is tiny (≈2 rows/doc at 15-bit slices), so the eager
    # materialization job is cheap and lineage truncation is free.
    chunks = cap_buckets(
        fingerprint_slices(simhash(df, id_col, text_col), id_col, chunk_bits),
        ["chunk_idx", "chunk"],
        max_bucket,
    ).localCheckpoint()
    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"),
        "chunk_idx", "chunk",
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"),
        "chunk_idx", "chunk",
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming(F.col("sh_a"), F.col("sh_b")) <= max_hamming)
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
