"""SURVEY §2.K LLM-data-pipeline ops (north star, BASELINE.json): text
analysis, deduplication (exact / MinHash-LSH / SimHash / n-gram
Jaccard), similarity search (brute-force / blocked kNN / IVF), and
multimodal-column plumbing, over the documents/embeddings fixtures.

All hot paths are Catalyst expressions; Python appears only in the
Arrow-batched multimodal feature extractor (decode is stubbed — image
libs absent offline — but the Spark plumbing is real).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..llm.components import connected_components
from ..llm.minhash import minhash_near_dups, shingles
from ..llm.similarity import (
    as_double,
    brute_force_topk,
    ivf_cell,
    ivf_centroids,
    ivf_probe_cells,
    ivf_topk,
    knn_join_blocked,
    l2_norm,
    normed,
    query,
    query_vector,
    score,
)
from ._util import DEC, SQL_DEC, davg, dec_norm_sq, dround, spread_scan, sql_davg, sql_dround, t
from .registry import op


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@op(
    "text_tokenize_counts",
    """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                  FROM documents)
       SELECT word, COUNT(*) AS n_occurrences,
              COUNT(DISTINCT doc_id) AS n_docs
       FROM w GROUP BY word""",
)
def text_tokenize_counts(spark: SparkSession, d: str) -> DataFrame:
    """Corpus token counts: split -> explode -> groupBy [EXT: text analysis]."""
    doc = t(spark, d, "documents")
    w = doc.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    return w.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@op(
    "text_stats",
    """SELECT lang, source, COUNT(*) AS n_docs,
              CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_chars,
              MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       FROM documents GROUP BY lang, source""",
)
def text_stats(spark: SparkSession, d: str) -> DataFrame:
    """Per-lang/source document statistics [EXT: text analysis]."""
    doc = t(spark, d, "documents")
    return doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("n_chars").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@op(
    "text_tfidf",
    f"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                   FROM documents),
        tf AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY doc_id, word),
        dl AS (SELECT doc_id, COUNT(*) AS doclen FROM w GROUP BY doc_id),
        dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS dfn FROM w GROUP BY word),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.word,
               {sql_dround('(tf.cnt / dl.doclen) * ln(CAST(n.n_docs AS DOUBLE) / dfreq.dfn)', 6)}
                 AS tfidf
        FROM tf, n
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfreq ON tf.word = dfreq.word""",
)
def text_tfidf(spark: SparkSession, d: str) -> DataFrame:
    """TF-IDF without MLlib: two keyed aggregations + joins.

    The doc-frequency relation is one row per distinct token — at
    web-corpus scale that's 10⁸+ rows, so it must NOT carry a broadcast
    hint (a forced broadcast OOMs the driver); the join stays unhinted
    and AQE picks broadcast vs shuffle from the measured size. Only the
    1-row corpus count is explicitly broadcast."""
    doc = t(spark, d, "documents")
    w = doc.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    dl = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    dfreq = w.groupBy("word").agg(F.countDistinct("doc_id").alias("dfn"))
    # corpus size as a broadcast 1-row relation — keeps the whole op one
    # lazy plan (no eager count() on the driver)
    n = doc.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tfidf = (F.col("cnt") / F.col("doclen")) * F.log(
        F.col("n_docs") / F.col("dfn")
    )
    return (
        tf.join(dl, "doc_id")
        .join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", dround(tfidf, 6).alias("tfidf"))
    )


@op(
    "text_lang_id",
    """WITH s AS (
         SELECT doc_id, words,
                len(list_filter(words, w -> w = 'the' OR w = 'a')) AS sc_en,
                len(list_filter(words, w -> w = 'der' OR w = 'die')) AS sc_de,
                len(list_filter(words, w -> w = 'le' OR w = 'la')) AS sc_fr,
                len(list_filter(words, w -> w = 'el' OR w = 'los')) AS sc_es
         FROM (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents))
       SELECT doc_id,
              CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es AND sc_en > 0
                     THEN 'en'
                   WHEN sc_de >= sc_fr AND sc_de >= sc_es AND sc_de > 0 THEN 'de'
                   WHEN sc_fr >= sc_es AND sc_fr > 0 THEN 'fr'
                   WHEN sc_es > 0 THEN 'es'
                   ELSE 'unknown' END AS lang_pred,
              sc_en, sc_de, sc_fr, sc_es
       FROM s""",
)
def text_lang_id(spark: SparkSession, d: str) -> DataFrame:
    """Stopword-count language-ID heuristic: score per language =
    indicator-token hits; argmax with a fixed precedence order."""
    doc = t(spark, d, "documents")
    words = F.split(F.lower("text"), " ")

    def score(toks):
        return F.size(F.filter(words, lambda w: (w == toks[0]) | (w == toks[1])))

    s = doc.select(
        "doc_id",
        score(["the", "a"]).alias("sc_en"),
        score(["der", "die"]).alias("sc_de"),
        score(["le", "la"]).alias("sc_fr"),
        score(["el", "los"]).alias("sc_es"),
    )
    pred = (
        F.when(
            (F.col("sc_en") >= F.col("sc_de"))
            & (F.col("sc_en") >= F.col("sc_fr"))
            & (F.col("sc_en") >= F.col("sc_es"))
            & (F.col("sc_en") > 0),
            "en",
        )
        .when((F.col("sc_de") >= F.col("sc_fr")) & (F.col("sc_de") >= F.col("sc_es")) & (F.col("sc_de") > 0), "de")
        .when((F.col("sc_fr") >= F.col("sc_es")) & (F.col("sc_fr") > 0), "fr")
        .when(F.col("sc_es") > 0, "es")
        .otherwise("unknown")
    )
    return s.select("doc_id", pred.alias("lang_pred"), "sc_en", "sc_de", "sc_fr", "sc_es")


def _n_stop(words: Column) -> Column:
    """How many of ``words`` are one of the four quality stopwords."""
    return F.size(
        F.filter(
            words,
            lambda w: (w == "the") | (w == "a") | (w == "value") | (w == "data"),
        )
    )


@op(
    "text_quality_score",
    """WITH q AS (
         SELECT doc_id, n_chars,
                len(string_split(lower(text), ' ')) AS n_words,
                len(list_filter(string_split(lower(text), ' '),
                    w -> w = 'the' OR w = 'a' OR w = 'value' OR w = 'data')) AS n_stop
         FROM documents)
       SELECT doc_id, n_words,
              CAST(n_chars AS DOUBLE) / n_words AS avg_word_len,
              CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
              (CASE WHEN n_words BETWEEN 20 AND 70 THEN 1 ELSE 0 END
               + CASE WHEN CAST(n_stop AS DOUBLE) / n_words > 0.05 THEN 1 ELSE 0 END
               + CASE WHEN CAST(n_chars AS DOUBLE) / n_words BETWEEN 3 AND 8
                      THEN 1 ELSE 0 END) AS quality
       FROM q""",
)
def text_quality_score(spark: SparkSession, d: str) -> DataFrame:
    """Quality scoring via length / stopword-ratio heuristics."""
    doc = t(spark, d, "documents")
    words = F.split(F.lower("text"), " ")
    q = doc.select(
        "doc_id",
        "n_chars",
        F.size(words).alias("n_words"),
        _n_stop(words).alias("n_stop"),
    )
    awl = F.col("n_chars").cast("double") / F.col("n_words")
    sr = F.col("n_stop").cast("double") / F.col("n_words")
    quality = (
        F.when(F.col("n_words").between(20, 70), 1).otherwise(0)
        + F.when(sr > 0.05, 1).otherwise(0)
        + F.when(awl.between(3, 8), 1).otherwise(0)
    )
    return q.select(
        "doc_id",
        "n_words",
        awl.alias("avg_word_len"),
        sr.alias("stopword_ratio"),
        quality.alias("quality"),
    )


@op(
    "text_token_count",
    """SELECT doc_id,
              len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens,
              len(string_split(lower(text), ' ')) AS n_ws_tokens
       FROM documents""",
)
def text_token_count(spark: SparkSession, d: str) -> DataFrame:
    """Token counting: whitespace + a BPE-ish regex segmentation."""
    doc = t(spark, d, "documents")
    return doc.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_tokens"),
        F.size(F.split(F.lower("text"), " ")).alias("n_ws_tokens"),
    )


@op(
    "text_fingerprint",
    """SELECT doc_id,
              sha256(array_to_string(list_sort(list_distinct(
                  string_split(lower(text), ' '))), ' ')) AS fingerprint
       FROM documents""",
)
def text_fingerprint(spark: SparkSession, d: str) -> DataFrame:
    """Content fingerprint: sha256 of the sorted distinct token set —
    order-insensitive doc identity (bag-of-words canonical form)."""
    doc = t(spark, d, "documents")
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))))
    return doc.select("doc_id", F.sha2(canon, 256).alias("fingerprint"))


@op(
    "text_label_quality",
    f"""WITH c AS (SELECT source, lang, COUNT(*) AS cnt FROM documents
                   GROUP BY source, lang),
        tot AS (SELECT source, SUM(cnt) AS total FROM c GROUP BY source)
        SELECT c.source,
               {sql_dround('-SUM((cnt / CAST(total AS DOUBLE)) * log2(cnt / CAST(total AS DOUBLE)))', 6)}
                 AS lang_entropy,
               COUNT(*) AS n_langs
        FROM c JOIN tot ON c.source = tot.source
        GROUP BY c.source""",
)
def text_label_quality(spark: SparkSession, d: str) -> DataFrame:
    """Per-source language-distribution entropy (label purity)."""
    doc = t(spark, d, "documents")
    c = doc.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.groupBy("source").agg(F.sum("cnt").alias("total"))
    p = F.col("cnt") / F.col("total").cast("double")
    return (
        c.join(tot, "source")
        .groupBy("source")
        .agg(
            dround(-F.sum(p * F.log2(p)), 6).alias("lang_entropy"),
            F.count(F.lit(1)).alias("n_langs"),
        )
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


def _recrawled(spark: SparkSession, d: str, *cols: str) -> DataFrame:
    """(doc_id, *cols) of the documents ∪ every tenth document again
    under doc_id + 1e6 — a re-crawl. The fixture has no exact dups, so
    the exact-dedup ops run on this corpus, whose dup groups are
    (original, copy) pairs."""
    doc = t(spark, d, "documents").select("doc_id", *cols)
    recrawl = doc.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), *cols
    )
    return doc.unionByName(recrawl)


@op(
    "dedup_cluster_cc",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
       SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS component
       FROM corpus""",
)
def dedup_cluster_cc(spark: SparkSession, d: str) -> DataFrame:
    """Dup-cluster assignment via connected components (Pregel-style
    min-label propagation, llm/components.py): exact-dup chain edges →
    component = lowest doc_id in the cluster; singletons keep their own
    id. The oracle states the fixpoint (min id over the dup group) —
    the Spark side must converge to it through the generic iterative
    operator."""
    corpus = _recrawled(spark, d, "text")
    # star edges (group-min → each other member): component diameter 1,
    # so propagation converges in one superstep however large the dup
    # cluster — chain edges (lag) would need one superstep per member
    w = Window.partitionBy("text")
    edges = (
        corpus.withColumn("_root", F.min("doc_id").over(w))
        .filter(F.col("_root") != F.col("doc_id"))
        .select(F.col("_root").alias("src"), F.col("doc_id").alias("dst"))
    )
    cc = connected_components(edges)
    return corpus.join(cc, corpus.doc_id == cc.node, "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


@op(
    "dedup_keep_best",
    """WITH corpus AS (
         SELECT doc_id, text, n_chars FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text, n_chars
         FROM documents WHERE doc_id % 10 = 0),
       ranked AS (
         SELECT doc_id, n_chars,
                MIN(doc_id) OVER (PARTITION BY text) AS component,
                ROW_NUMBER() OVER (PARTITION BY text
                                   ORDER BY n_chars DESC, doc_id) AS rn
         FROM corpus)
       SELECT component, doc_id AS keeper_doc_id, n_chars
       FROM ranked WHERE rn = 1""",
)
def dedup_keep_best(spark: SparkSession, d: str) -> DataFrame:
    """The dedup *action*: per dup cluster keep the best document
    (longest, id tiebreak) and drop the rest [EXT: the keep-one step
    every training-corpus dedup pipeline ends with]. One window
    shuffle on the cluster key."""
    corpus = _recrawled(spark, d, "text", "n_chars")
    wc = Window.partitionBy("text")
    wr = Window.partitionBy("text").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        corpus.withColumn("component", F.min("doc_id").over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("component", F.col("doc_id").alias("keeper_doc_id"), "n_chars")
    )


@op(
    "dedup_exact_hash",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
       SELECT sha256(text) AS text_sha, COUNT(*) AS n_copies,
              MIN(doc_id) AS keeper_doc_id
       FROM corpus GROUP BY sha256(text) HAVING COUNT(*) > 1""",
)
def dedup_exact_hash(spark: SparkSession, d: str) -> DataFrame:
    """Exact dedup via content hash. The fixture has no exact dups, so
    the corpus is documents ∪ a re-crawled 10% slice — dup groups are
    then (orig, copy) with the keeper = lowest doc_id."""
    corpus = _recrawled(spark, d, "text")
    return (
        corpus.groupBy(F.sha2("text", 256).alias("text_sha"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


# Exact all-pairs 3-gram Jaccard ≥ 0.5 — the ground truth both hash-based
# near-dup ops must reproduce. The Spark ops use LSH banding / simhash
# chunk blocking ONLY as candidate generators and verify every candidate
# with exact Jaccard, so when the candidate stage has full recall on the
# qualifying pairs (asserted in tests/test_llm.py) the output equals this
# quadratic oracle. The oracle is O(n²)-by-shared-gram — fine for DuckDB
# at fixture scale, exactly what the bucketed Spark plans avoid at 100 TB.
_NEARDUP_EXACT_SQL = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
g AS (SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
      FROM (SELECT doc_id, words,
                   unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
            FROM w)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       {sql_dround('n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE)', 6)} AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.5
"""


@op("dedup_minhash_lsh", _NEARDUP_EXACT_SQL)
def dedup_minhash_lsh(spark: SparkSession, d: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (3-word shingles, 32 hashes, 8 bands,
    Jaccard ≥ 0.5 verified exactly). The exact-verify stage makes the
    output equal to the brute-force oracle whenever banding recall is
    full (tests/test_llm.py asserts it on the fixtures). 3-word
    shingles keep the shingle sets discriminative on a shared-vocab
    corpus — unigrams make nearly every doc pair a candidate."""
    doc = t(spark, d, "documents")
    return minhash_near_dups(
        doc, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
    ).select("doc_a", "doc_b", dround("jaccard", 6).alias("jaccard"))


# Full-pipeline mirror oracle for dedup_simhash: DuckDB replays the
# 60-bit md5-derived fingerprints, the 15-bit slicing, the bucket-
# occupancy cap, AND the candidate self-join, then verifies exact
# 3-gram Jaccard ≥ 0.5 on those candidates — certifying the capped
# candidate generator's recall as SPECIFIED at any scale. (The
# previous oracle was the exact brute-force answer, which silently
# assumed full candidate recall; at sf0.1 that assumption broke two
# ways — overfull 8-bit slices dropped 5 true Hamming-≤3 pairs, and 2
# high-Jaccard pairs sat at Hamming 39/49, outside any slice radius.)
_SIMHASH_BITSUMS = ", ".join(
    f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN cnt ELSE -cnt END) AS b{i}"
    for i in range(60)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(60)
)
# Shared CTE scaffold: fingerprints → 15-bit slices → occupancy cap.
# Used by BOTH simhash oracles (Jaccard-verified pairs and native
# Hamming pairs) — one definition, zero drift between them.
_SIMHASH_CTES = f"""
WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
           FROM documents),
wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY doc_id, word),
h AS (SELECT doc_id, cnt,
             CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS h
      FROM wc),
bits AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM bits),
slices AS (SELECT doc_id, simhash, chunk_idx,
                  ((simhash >> (chunk_idx * 15)) & 32767) AS chunk
           FROM fp, (SELECT unnest(range(4)) AS chunk_idx)),
capped AS (SELECT doc_id, simhash, chunk_idx, chunk
           FROM (SELECT *, COUNT(*) OVER (PARTITION BY chunk_idx, chunk) AS bn
                 FROM slices)
           WHERE bn <= 200)"""

_SIMHASH_MIRROR_SQL = f"""{_SIMHASH_CTES},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM capped a
         JOIN capped b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                      AND a.doc_id < b.doc_id
                      AND bit_count(xor(a.simhash, b.simhash)) <= 6),
wg AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
g AS (SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
      FROM (SELECT doc_id, words,
                   unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
            FROM wg)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
          FROM cand c
          JOIN g ga ON ga.doc_id = c.doc_a
          JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
          GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b,
       {sql_dround('n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE)', 6)} AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.5
"""


@op("dedup_simhash", _SIMHASH_MIRROR_SQL)
def dedup_simhash(spark: SparkSession, d: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit md5-derived fingerprints, 15-bit
    slice blocking (complete for Hamming ≤ 3 among un-capped slices),
    a Hamming ≤ 6 fingerprint cut inside the slice join, then exact
    3-gram Jaccard ≥ 0.5 on the surviving candidates. Unlike
    dedup_minhash_lsh (whose banding empirically reaches full recall,
    so it is certified against the brute-force oracle), the simhash
    oracle REPLAYS the whole capped+cut candidate pipeline in SQL —
    the generator's recall is certified as specified, at any scale."""
    from ..llm.minhash import jaccard_verify, shingles
    from ..llm.simhash import simhash_candidate_pairs

    # spread_scan: fingerprinting + shingling are map work, and a
    # one-row-group fixture scan hands them to one task (0.92 → 0.53 s
    # at sf0.1); no-op on well-split inputs
    doc = spread_scan(t(spark, d, "documents"), "doc_id")
    # candidate relation replays cheaply off the localCheckpointed
    # chunk slices, so prune_sets' second evaluation of it is a join
    # replay, not a fingerprint recompute
    cand = simhash_candidate_pairs(doc, "doc_id", "text")
    sh = shingles(doc, "doc_id", "text", k=3)  # jaccard_verify set-dedups
    return jaccard_verify(
        cand, sh, "doc_id", threshold=0.5, prune_sets=True
    ).select("doc_a", "doc_b", dround("jaccard", 6).alias("jaccard"))


_SIMHASH_HAMMING_SQL = f"""{_SIMHASH_CTES}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM capped a
JOIN capped b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@op("dedup_simhash_hamming", _SIMHASH_HAMMING_SQL)
def dedup_simhash_hamming(spark: SparkSession, d: str) -> DataFrame:
    """Native simhash semantics: (doc_a, doc_b, hamming) pairs within
    Hamming distance 3 of the 60-bit fingerprint — fingerprint
    distance IS the near-dup test, no content verify (the production
    shape when re-reading documents is too expensive and fingerprint
    agreement is the SLA, e.g. crawl-time URL-content screening).
    Complete for Hamming ≤ 3 by pigeonhole over the 4×15-bit slices,
    minus pairs whose every shared slice bucket exceeds the occupancy
    cap — the oracle replays fingerprints, slices, cap, and the
    distance cut, so that exact contract is certified at any scale
    (same mirror scaffold as dedup_simhash)."""
    from ..llm.simhash import simhash_near_dups

    doc = t(spark, d, "documents")
    return simhash_near_dups(
        doc, "doc_id", "text", max_hamming=3
    ).select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


_NGRAM_SQL = """
WITH w AS (SELECT doc_id, source, string_split(lower(text), ' ') AS words
           FROM documents),
g AS (SELECT DISTINCT doc_id, source,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
      FROM (SELECT doc_id, source, words,
                   unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
            FROM w)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM g a JOIN g b ON a.source = b.source AND a.gram = b.gram
                           AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.02
"""


def _source_gram_overlap(doc: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) for every doc pair of one
    `source` sharing a 3-gram: the distinct-3-gram set sizes and their
    intersection. The sets are distinct (shingles() keeps duplicates by
    design; the n-gram measures are over sets, mirroring the oracles'
    DISTINCT), and the source blocking key bounds the quadratic join —
    the scale lever. Each caller applies its own measure and cut."""
    g = (
        shingles(doc, "doc_id", "text", k=3)
        .dropDuplicates(["doc_id", "shingle"])
        .join(doc.select("doc_id", "source"), "doc_id")
    )
    sz = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("doc_id").alias("doc_a"), "source", "shingle")
    b = g.select(F.col("doc_id").alias("doc_b"), "source", "shingle")
    inter = (
        a.join(b, ["source", "shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


@op("dedup_ngram_jaccard", _NGRAM_SQL)
def dedup_ngram_jaccard(spark: SparkSession, d: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs within a `source` block (blocking key
    bounds the quadratic join — the scale lever)."""
    doc = t(spark, d, "documents")
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    return (
        _source_gram_overlap(doc)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.02)
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_QVEC_SQL = "list_transform(generate_series(0, 63), d -> (((d * 37) % 19) - 9) / 9.0)"


def _sql_cos(vec_expr: str, q_expr: str) -> str:
    # NULLIF mirrors llm/similarity.score: zero-norm -> NULL, no throw
    return (
        f"list_dot_product({vec_expr}, {q_expr}) / "
        f"NULLIF(sqrt(list_dot_product({vec_expr}, {vec_expr})) * "
        f"sqrt(list_dot_product({q_expr}, {q_expr})), 0.0)"
    )


def _sql_vec(vec: list[float]) -> str:
    # repr() float literals round-trip, so both engines read identical doubles
    return "[" + ", ".join(repr(x) for x in vec) + "]"


def _sql_ivf_cell(cents: list[list[float]]) -> tuple[str, str]:
    """Oracle-side cell assignment, written independently of the Spark
    fold (llm/similarity.ivf_cell): the select-list of per-centroid dot
    products ``d0..dN`` over a ``v`` column, and the CASE chain that
    picks the first maximum."""
    n_cells = len(cents)
    dot_cols = ",\n       ".join(
        f"list_dot_product(v, {_sql_vec(cents[c])}) AS d{c}" for c in range(n_cells)
    )
    cases = "\n            ".join(
        "WHEN "
        + " AND ".join(f"d{c} >= d{o}" for o in range(n_cells) if o != c)
        + f" THEN {c}"
        for c in range(n_cells)
    )
    return dot_cols, cases


def _ivf_probe_sql(
    n_cells: int = 8, dim: int = 64, k: int = 10, n_probe: int = 1
) -> str:
    """Oracle for the IVF probe: the pseudo-centroids are deterministic
    rational constants, so the oracle replays the exact same cell
    assignment (argmax of dot vs each centroid, first-max-wins like the
    Spark fold's strict-greater update), probes the query's cell, and
    ranks by the shared rounded-cosine contract. repr() float literals
    round-trip, so both engines score identical doubles."""
    cents = ivf_centroids(n_cells, dim)
    qvec = query_vector(dim)
    qcells = sorted(
        range(n_cells),
        key=lambda c: (-sum(x * y for x, y in zip(cents[c], qvec)), c),
    )[:n_probe]
    dot_cols, cases = _sql_ivf_cell(cents)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT vec_id, v,
       {dot_cols}
      FROM v),
a AS (SELECT vec_id, v,
             CASE {cases} END AS cell
      FROM d)
SELECT vec_id, CAST(cell AS INTEGER) AS cell,
       CAST(ROUND(CAST({_sql_cos('v', _sql_vec(qvec))} AS DECIMAL(25,6)), 6) AS DOUBLE)
         AS cos_sim
FROM a WHERE cell IN ({", ".join(str(c) for c in qcells)})
ORDER BY cos_sim DESC, vec_id LIMIT {k}
"""


@op(
    "sim_cosine_topk",
    f"""WITH scored AS (
          SELECT vec_id,
                 CAST(ROUND(CAST({_sql_cos('embedding::DOUBLE[]', _QVEC_SQL)}
                       AS DECIMAL(25,6)), 6) AS DOUBLE) AS cos_sim
          FROM embeddings)
        SELECT vec_id, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_id LIMIT 10""",
)
def sim_cosine_topk(spark: SparkSession, d: str) -> DataFrame:
    """Brute-force cosine top-k vs a fixed query vector (ANN baseline)."""
    e = t(spark, d, "embeddings")
    return brute_force_topk(e, query_vector(64), k=10)


@op(
    "sim_knn_join",
    f"""WITH pairs AS (
          SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
                 CAST(ROUND(CAST(
                   list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                   NULLIF(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0.0)
                   AS DECIMAL(25,6)), 6) AS DOUBLE) AS cos_sim
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id != b.vec_id)
        SELECT blk, id_a, id_b, cos_sim, rk FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id_a
                             ORDER BY cos_sim DESC, id_b) AS BIGINT) AS rk
          FROM pairs) WHERE rk <= 3""",
)
def sim_knn_join(spark: SparkSession, d: str) -> DataFrame:
    """Pairwise kNN join blocked on label (bounds the O(n²) join)."""
    e = t(spark, d, "embeddings")
    return knn_join_blocked(e, "label", k=3)


@op(
    "sim_embedding_neardup",
    f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              CAST(ROUND(CAST(
                list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                NULLIF(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0.0)
                AS DECIMAL(25,6)), 6) AS DOUBLE) AS cos_sim
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE CAST(ROUND(CAST(
                list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                NULLIF(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0.0)
                AS DECIMAL(25,6)), 6) AS DOUBLE) >= 0.35""",
)
def sim_embedding_neardup(spark: SparkSession, d: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (threshold
    tuned to the fixture's cosine distribution: max ≈ 0.47)."""
    e = t(spark, d, "embeddings")
    a = normed(e, F.col("label").alias("blk"), F.col("vec_id").alias("id_a"), v="va", nrm="na")
    b = normed(e, F.col("label").alias("blk"), F.col("vec_id").alias("id_b"), v="vb", nrm="nb")
    cos = dround(score("va", "na", "vb", "nb"), 6)
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.35)
    )


@op(
    "dedup_semantic_cluster",
    """WITH RECURSIVE
       pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE CAST(ROUND(CAST(
                   list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                   NULLIF(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0.0)
                   AS DECIMAL(25,6)), 6) AS DOUBLE) >= 0.35),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION ALL
                 SELECT id_b AS a, id_a AS b FROM pairs),
       reach(node, comp) AS (
         SELECT vec_id, vec_id FROM embeddings
         UNION
         SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node)
       SELECT node AS vec_id, MIN(comp) AS component
       FROM reach GROUP BY node""",
)
def dedup_semantic_cluster(spark: SparkSession, d: str) -> DataFrame:
    """Semantic dup clusters: connected components over the
    embedding-cosine near-dup graph [EXT: near-dup *pairs* become
    keep-one *clusters*]. The Spark side is the iterative Pregel-style
    operator (llm/components.py); the oracle computes the same
    fixpoint as a recursive CTE — two entirely different evaluation
    strategies agreeing on the closure."""
    e = t(spark, d, "embeddings")
    pairs = sim_embedding_neardup(spark, d).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")
    return e.select("vec_id").join(
        cc, F.col("vec_id") == cc.node, "left"
    ).select("vec_id", F.coalesce("component", "vec_id").alias("component"))


@op("sim_ivf_multiprobe_topk", _ivf_probe_sql(n_probe=2))
def sim_ivf_multiprobe_topk(spark: SparkSession, d: str) -> DataFrame:
    """IVF ANN probing the 2 nearest centroid cells [EXT: the n_probe
    recall/cost knob every IVF deployment tunes — measured against
    n_probe=1 by sim_ann_recall_eval's harness]. The probe-cell list
    is constant-folded on the driver (deterministic centroids x fixed
    query), so the plan is a static IN filter over the cell column —
    partition pruning applies when the index is cell-partitioned
    (sim_ivf_index_partitioned)."""
    e = t(spark, d, "embeddings")
    return ivf_topk(e, query_vector(64), k=10, n_cells=8, n_probe=2)


@op("sim_ivf_topk", _ivf_probe_sql())
def sim_ivf_topk(spark: SparkSession, d: str) -> DataFrame:
    """IVF-bucketed ANN top-k (probe nearest pseudo-centroid cell);
    recall vs brute force asserted in tests/test_llm.py. The centroids
    are deterministic constants, so the probe is exactly reproducible
    in SQL (see _ivf_probe_sql) — the ANN approximation is vs brute
    force, not vs the oracle."""
    e = t(spark, d, "embeddings")
    return ivf_topk(e, query_vector(64), k=10, n_cells=8)


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------


@op(
    "multimodal_join",
    """SELECT d.doc_id, d.lang, d.source, e.label, len(e.embedding) AS dim,
              d.n_chars
       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""",
)
def multimodal_join(spark: SparkSession, d: str) -> DataFrame:
    """Text + vector in one row (documents ⋈ embeddings by id)."""
    doc = t(spark, d, "documents")
    emb = t(spark, d, "embeddings")
    return doc.join(emb, doc.doc_id == emb.vec_id).select(
        "doc_id", "lang", "source", "label", F.size("embedding").alias("dim"), "n_chars"
    )


_MM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_sha", StringType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
    ]
)


@op(
    "multimodal_binary_features",
    """SELECT doc_id, strlen(text) AS n_bytes, sha256(text) AS content_sha,
              CAST(strlen(text) % 256 AS INTEGER) AS fake_width,
              CAST((strlen(text) // 256) % 256 AS INTEGER) AS fake_height
       FROM documents""",
)
def multimodal_binary_features(spark: SparkSession, d: str) -> DataFrame:
    """Multimodal-column plumbing: treat content as an opaque binary
    column and feature-extract via mapInPandas (Arrow batches).

    The real decoder (image/audio libs) is absent offline — the
    "decode" is a deterministic fake (dimensions derived from byte
    length), but the engine surface is real: binary column in, typed
    feature StructType out, partition-parallel batches.
    """
    doc = t(spark, d, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["content"]
            n = blobs.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "content_sha": blobs.map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                    "fake_width": (n % 256).astype("int32"),
                    "fake_height": ((n // 256) % 256).astype("int32"),
                }
            )

    return doc.mapInPandas(extract, schema=_MM_SCHEMA)


@op(
    "multimodal_dedup_sha",
    """WITH h AS (SELECT doc_id, sha256(text) AS content_sha,
                    strlen(text) AS n_bytes
             FROM documents),
       r AS (SELECT doc_id, content_sha, n_bytes,
                    ROW_NUMBER() OVER (PARTITION BY content_sha
                                       ORDER BY doc_id) AS rn,
                    COUNT(*) OVER (PARTITION BY content_sha) AS n_copies
             FROM h)
       SELECT doc_id, content_sha, n_bytes,
              CAST(n_copies AS BIGINT) AS n_copies
       FROM r WHERE rn = 1""",
)
def multimodal_dedup_sha(spark: SparkSession, d: str) -> DataFrame:
    """Content-addressable exact dedup over an opaque BINARY column
    [EXT: the first stage of every multimodal ingest — identical
    image/audio payloads collapse to one copy before any decode]:
    sha2 digest per blob, keep the lowest id per digest, count copies.
    Digesting happens where the bytes live (no normalization pass
    ships the blobs anywhere); the only shuffle carries (id, 64-char
    digest, length) — never the payload. The blob is the utf-8
    encoding of the text column (the repo's standing stand-in for
    binary media; the plumbing — binary column in, digest dedup out —
    is the real surface)."""
    doc = t(spark, d, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    h = doc.select(
        "doc_id",
        F.sha2("content", 256).alias("content_sha"),
        F.octet_length("content").alias("n_bytes"),
    )
    w = Window.partitionBy("content_sha").orderBy("doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("content_sha")))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "content_sha",
            "n_bytes",
            F.col("n_copies").cast("bigint").alias("n_copies"),
        )
    )


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_sha", StringType()),
    ]
)

_FRAME_BYTES = 16
_FRAME_STRIDE = 4


@op(
    "multimodal_frame_sample",
    # length() (codepoints), NOT strlen() (bytes): frames are 16-CHAR
    # chunks in both engines (DuckDB substring and Python slicing are
    # both character-based), so the frame COUNT must be char-based
    # too. The former strlen() agreed on every ASCII fixture but
    # overcounted frames ~3x on multibyte text — caught by the
    # NFD-decomposed-text probe (tools/probe_nfd_text.py: 89 vs 93
    # rows on NFD Hangul docs), the one fixture class where
    # bytes-per-codepoint exceeds 1 on enough text to cross a
    # stride-4 frame boundary.
    """WITH f AS (
         SELECT doc_id, text,
                unnest(range(0, CAST((length(text) - 1) // 16 + 1 AS BIGINT), 4))
                  AS frame_idx
         FROM documents)
       SELECT doc_id, frame_idx,
              sha256(substring(text, CAST(frame_idx * 16 + 1 AS INTEGER), 16))
                AS frame_sha
       FROM f""",
)
def multimodal_frame_sample(spark: SparkSession, d: str) -> DataFrame:
    """Frame sampling over an opaque media column: mapInPandas emits
    every 4th fixed-size "frame" (one→many rows, typed schema). The
    frame decoder is a deterministic fake (16-char chunks of the text
    payload — video libs absent offline); the Spark plumbing (Arrow
    batches, per-partition fan-out, stable frame indexing) is the real
    surface a sampler needs."""
    doc = t(spark, d, "documents").select("doc_id", "text")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue  # oracle: strlen(NULL) → NULL range → no rows
                # max(1, ...) mirrors DuckDB's truncating (strlen-1)//16+1,
                # which yields one empty frame for text='' (Python's floor
                # division would yield zero frames there)
                n_frames = max(1, (len(text) - 1) // _FRAME_BYTES + 1)
                for i in range(0, n_frames, _FRAME_STRIDE):
                    chunk = text[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(i)
                    shas.append(hashlib.sha256(chunk.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_sha": shas}
            )

    return doc.mapInPandas(sample, schema=_FRAME_SCHEMA)


# Knuth multiplicative split assignment — ONE definition feeds both the
# Spark expressions and the SQL oracles of every op that assigns splits
# (a threshold tweak in one place cannot diverge the pair).
_SPLIT_A = 2654435761
_SPLIT_M = 4294967296
_SPLIT_TRAIN = 3435973836  # ~floor(0.8 * 2^32)
_SPLIT_VAL = 3865470565  # ~floor(0.9 * 2^32)
# OVERFLOW-FREE (id * A) mod 2^32, because the naive int64 product
# overflows for id > 2^63/A ≈ 3.47e9 — ANSI ARITHMETIC_OVERFLOW in
# Spark, a multiplication-overflow error in DuckDB; a corpus with more
# than ~3.5 billion documents would kill the splitter. Decompose
# x = id mod 2^32 into 16-bit halves:
#   (x·A) mod 2^32 = ((x_hi·A mod 2^16)·2^16 + x_lo·A) mod 2^32
# — every intermediate < 2^48, and the result is bit-identical to
# the naive form wherever that form didn't overflow (verified over
# the full boundary set + 20k random 62-bit ids). Same integer
# expression in both engines.
# The residue is normalized NONNEGATIVE first (((id % 2^32) + 2^32)
# % 2^32 — a no-op for id >= 0): both engines' % follows the dividend
# sign and both `//`/trunc-cast truncate toward zero, so a negative id
# previously produced a negative "bucket" that depended on those
# truncation semantics agreeing across engines. On a nonnegative x the
# 16-bit split below is pure integer arithmetic — Spark uses
# shiftright(x, 16), never a float division.
_SPLIT_X_SQL = f"((doc_id % {_SPLIT_M}) + {_SPLIT_M}) % {_SPLIT_M}"
_SPLIT_BUCKET_SQL = (
    f"((({_SPLIT_X_SQL} // 65536 * {_SPLIT_A}) % 65536) * 65536"
    f" + {_SPLIT_X_SQL} % 65536 * {_SPLIT_A}) % {_SPLIT_M}"
)
_SPLIT_CASE_SQL = f"""CASE WHEN {_SPLIT_BUCKET_SQL} < {_SPLIT_TRAIN}
                   THEN 'train'
                   WHEN {_SPLIT_BUCKET_SQL} < {_SPLIT_VAL}
                   THEN 'val' ELSE 'test' END"""


def _split_bucket(col: Column) -> Column:
    x = (col % F.lit(_SPLIT_M) + F.lit(_SPLIT_M)) % F.lit(_SPLIT_M)
    hi_part = (F.shiftright(x.cast("long"), 16) * F.lit(_SPLIT_A)) % 65536
    return (hi_part * 65536 + (x % 65536) * F.lit(_SPLIT_A)) % F.lit(_SPLIT_M)


def _split_label(col: Column) -> Column:
    b = _split_bucket(col)
    return (
        F.when(b < F.lit(_SPLIT_TRAIN), "train")
        .when(b < F.lit(_SPLIT_VAL), "val")
        .otherwise("test")
    )


@op(
    "sample_split_assign",
    f"""SELECT doc_id,
              {_SPLIT_BUCKET_SQL} AS bucket,
              {_SPLIT_CASE_SQL} AS split
       FROM documents""",
)
def sample_split_assign(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment via Knuth
    multiplicative hashing on the id [EXT: reproducible corpus splits —
    stable under re-runs, engine-independent, no RNG state]. A narrow
    map: no shuffle, no sampling collect."""
    doc = t(spark, d, "documents")
    return doc.select(
        "doc_id",
        _split_bucket(F.col("doc_id")).alias("bucket"),
        _split_label(F.col("doc_id")).alias("split"),
    )


@op(
    "pipeline_corpus_curation",
    """WITH sized AS (
         SELECT doc_id, lang, text,
                len(string_split(lower(text), ' ')) AS n_words
         FROM documents),
       filtered AS (
         SELECT * FROM sized
         WHERE lang = 'en' AND n_words BETWEEN 20 AND 70),
       deduped AS (
         SELECT * FROM (
           SELECT doc_id, n_words,
                  ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM filtered) WHERE rn = 1)
       SELECT doc_id, n_words,
              {split_case} AS split
       FROM deduped""".format(split_case=_SPLIT_CASE_SQL),
)
def pipeline_corpus_curation(spark: SparkSession, d: str) -> DataFrame:
    """End-to-end curation pipeline — the composition every training
    corpus goes through: quality gate (length band) → language filter
    → exact dedup (keep lowest id) → deterministic split assignment.
    One narrow scan + one window shuffle on the dedup key; every stage
    is a reusable op elsewhere in the registry."""
    doc = t(spark, d, "documents")
    sized = doc.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split(F.lower("text"), " ")).alias("n_words"),
    )
    filtered = sized.filter(
        (F.col("lang") == "en") & F.col("n_words").between(20, 70)
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return deduped.select(
        "doc_id", "n_words", _split_label(F.col("doc_id")).alias("split")
    )


@op(
    "text_pii_redact",
    """WITH seeded AS (
         SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                '@example.com or +1-555-' ||
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
         FROM documents)
       SELECT doc_id,
              regexp_replace(
                regexp_replace(raw, '[a-z0-9._]+@[a-z.]+[a-z]', '<EMAIL>', 'g'),
                '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
       FROM seeded""",
)
def text_pii_redact(spark: SparkSession, d: str) -> DataFrame:
    """PII scrubbing [EXT: training corpora must drop emails/phones
    before the tokenizer sees them]: regex redaction, pure expression
    (the patterns are RE2/Java-compatible so the oracle runs them
    verbatim). Fixture text carries no PII, so deterministic synthetic
    contact strings are appended first."""
    doc = t(spark, d, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, r"[a-z0-9._]+@[a-z.]+[a-z]", "<EMAIL>"),
        r"\+1-[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return doc.select("doc_id", redacted.alias("redacted"))


@op(
    "text_normalize_unicode",
    """SELECT doc_id,
              nfc_normalize('cafe' || chr(769) || ' ' || text) AS nfc_text,
              strlen(nfc_normalize('cafe' || chr(769) || ' ' || text)) AS n_bytes
       FROM documents""",
)
def text_normalize_unicode(spark: SparkSession, d: str) -> DataFrame:
    """Unicode NFC normalization [EXT: dedup/fingerprinting break when
    é and e+combining-accent hash differently]: Arrow-batched pandas
    UDF over stdlib unicodedata (Spark has no builtin normalizer —
    this is the documented slow path, vectorized). A combining-accent
    prefix is added so the normalization is observable."""
    import unicodedata

    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFC", x))

    doc = t(spark, d, "documents")
    # seed with the DECOMPOSED form (e + combining U+0301) so the UDF
    # performs a real NFC fold, mirroring the oracle's 'cafe'||chr(769)
    seeded = F.concat(F.lit("cafe\u0301 "), F.col("text"))
    nfc_text = nfc(seeded)
    return doc.select(
        "doc_id",
        nfc_text.alias("nfc_text"),
        F.octet_length(nfc_text).cast("bigint").alias("n_bytes"),
    )


@op(
    "vec_quantize_int8",
    # CASE gates the empty-array COALESCE ('' like Spark's array_join)
    # so a NULL embedding stays NULL in BOTH engines — an unconditional
    # COALESCE would turn DuckDB's NULL-input NULL into '' while Spark
    # keeps NULL, and the op would not match its oracle on a NULL
    # embedding. The inner per-element COALESCE(..., '\N') mirrors
    # Spark's array_join nullReplacement: without it BOTH engines
    # silently SKIP NULL elements, so the
    # joined code vector would carry fewer components than `dim`
    # reports (lossless requires count(q8) == dim).
    """SELECT vec_id,
              CASE WHEN embedding IS NULL THEN NULL
                   ELSE COALESCE(array_to_string(
                     list_transform(embedding,
                                    x -> COALESCE(
                                      CAST(CAST(round(CAST(x AS DOUBLE) * 127)
                                                AS INTEGER) AS VARCHAR),
                                      '\\N')),
                     ','), '') END AS q8,
              len(embedding) AS dim
       FROM embeddings""",
)
def vec_quantize_int8(spark: SparkSession, d: str) -> DataFrame:
    """Int8 vector quantization [EXT: 4× memory cut for ANN probes —
    scale path stores q8 + per-vector scale]: pure array expression,
    narrow map, no shuffle.

    The code vector is emitted as a ','-joined string of the int8
    codes: lossless (integer → decimal text is deterministic in both
    engines, and a NULL element serializes as the '\\N' sentinel so
    component count always equals `dim` — fixture embeddings contain
    no NULL elements today, but the encoding must not silently drop
    them) and flat-scalar, because the driver canonicalizer cannot
    hash array-typed output columns (it fails with "unhashable
    type" on them even when the values match)."""
    e = t(spark, d, "embeddings")
    q8 = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 127).cast("int")
    )
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(q8, lambda v: v.cast("string")), ",", "\\N"
        ).alias("q8"),
        F.size("embedding").alias("dim"),
    )


# the query_vector() rationals quantized to int8 — ONE list feeds both
# the SQL oracle literal and the Spark-side array (cannot diverge)
_Q8_QVEC = [round(x * 127) for x in query_vector(64)]


def _q8_query_vector_sql() -> str:
    return "[" + ", ".join(f"{v}.0" for v in _Q8_QVEC) + "]"


@op(
    "sim_quantized_topk",
    f"""SELECT vec_id,
               CAST(list_dot_product(
                 list_transform(embedding,
                                x -> CAST(round(CAST(x AS DOUBLE) * 127) AS DOUBLE)),
                 {_q8_query_vector_sql()}) AS BIGINT) AS q_dot
        FROM embeddings
        ORDER BY q_dot DESC, vec_id LIMIT 10""",
)
def sim_quantized_topk(spark: SparkSession, d: str) -> DataFrame:
    """Quantized ANN probe: rank by integer dot product over int8
    vectors [EXT: the memory-bound serving path — int math is exact,
    so unlike float cosine this op needs no rounding tolerance].
    Same shuffle-free TakeOrdered shape as the float baseline."""
    e = t(spark, d, "embeddings")
    qvec = _Q8_QVEC
    q8 = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 127).cast("long")
    )
    qarr = F.array(*[F.lit(v).cast("long") for v in qvec])
    dot_int = F.aggregate(
        F.zip_with(q8, qarr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    return (
        e.select("vec_id", dot_int.alias("q_dot"))
        .orderBy(F.col("q_dot").desc(), "vec_id")
        .limit(10)
    )


@op(
    "text_length_histogram",
    """SELECT CASE WHEN n_chars < 100 THEN '0-99'
                   WHEN n_chars < 200 THEN '100-199'
                   WHEN n_chars < 300 THEN '200-299'
                   WHEN n_chars < 400 THEN '300-399'
                   ELSE '400+' END AS bin,
              COUNT(*) AS n_docs,
              MIN(n_chars) AS bin_min, MAX(n_chars) AS bin_max
       FROM documents GROUP BY 1""",
)
def text_length_histogram(spark: SparkSession, d: str) -> DataFrame:
    """Document-length histogram with fixed bins [EXT: corpus length
    distribution — the first chart every dataset card shows]. CASE
    binning keeps the bin edges identical across engines (width_bucket
    variants differ on boundary ownership)."""
    doc = t(spark, d, "documents")
    bin_ = (
        F.when(F.col("n_chars") < 100, "0-99")
        .when(F.col("n_chars") < 200, "100-199")
        .when(F.col("n_chars") < 300, "200-299")
        .when(F.col("n_chars") < 400, "300-399")
        .otherwise("400+")
    )
    return doc.groupBy(bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("bin_min"),
        F.max("n_chars").alias("bin_max"),
    )


@op("sim_ivf_index_partitioned", _ivf_probe_sql())
def sim_ivf_index_partitioned(spark: SparkSession, d: str) -> DataFrame:
    """IVF index at rest: cell assignments written `partitionBy(cell)`,
    probe reads ONLY the query's cell directory (partition pruning —
    asserted in tests/test_plans.py). This is the ANN scale path: at
    100 TB the probe's scan cost is corpus_size / n_cells, not the
    corpus."""
    import os as _os

    e = t(spark, d, "embeddings")
    n_cells, qvec = 8, query_vector(64)
    v = as_double("embedding")
    tag = _os.path.basename(_os.path.normpath(d)) or "sf"
    # pid-scoped like plans/core_scans._scratch: concurrent engine
    # processes must not clobber each other's index between write & probe
    path = f"/tmp/spark_graft_scratch/p{_os.getpid()}/{tag}/ivf_index"
    _os.makedirs(_os.path.dirname(path), exist_ok=True)
    index = e.select(
        "vec_id", v.alias("v"), ivf_cell(v, ivf_centroids(n_cells, 64)).alias("cell")
    )
    index.write.mode("overwrite").partitionBy("cell").parquet(path)
    (qcell,) = ivf_probe_cells(qvec, n_cells)
    q, qn = query(qvec)
    # explicit schema: an empty corpus writes zero part files, and
    # reading those back with schema inference throws
    probe = (
        spark.read.schema(index.schema)
        .parquet(path)
        .filter(F.col("cell") == qcell)
    )
    return (
        probe.select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            dround(score("v", l2_norm("v"), q, qn), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@op(
    "sample_stratified_exact",
    f"""WITH h AS (
         SELECT doc_id, lang,
                {_SPLIT_BUCKET_SQL} AS hkey
         FROM documents),
       r AS (
         SELECT doc_id, lang,
                ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY lang) AS n
         FROM h)
       SELECT doc_id, lang, CAST(rn AS BIGINT) AS stratum_rank
       FROM r WHERE rn <= CEIL(0.2 * n)""",
)
def sample_stratified_exact(spark: SparkSession, d: str) -> DataFrame:
    """Exact stratified sampling: every stratum contributes exactly
    ceil(20%) of its rows, chosen by a deterministic multiplicative
    hash rank (the shared overflow-free _split_bucket — the naive
    id*A product overflows int64 beyond ~3.5e9 ids) —
    reproducible across runs and engines, unlike df.sampleBy
    (Bernoulli, approximate per-stratum fractions). One window
    shuffle on the stratum key [EXT: train-split curation]."""
    doc = t(spark, d, "documents")
    hkey = _split_bucket(F.col("doc_id"))
    w = Window.partitionBy("lang").orderBy(hkey.asc(), F.col("doc_id").asc())
    wn = Window.partitionBy("lang")
    r = doc.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.filter(
        F.col("rn") <= F.ceil(0.2 * F.col("n"))
    ).select("doc_id", "lang", F.col("rn").cast("bigint").alias("stratum_rank"))


@op(
    "text_unigram_logprob",
    f"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                   FROM documents),
        n AS (SELECT COUNT(*) AS total FROM w),
        cnt AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word)
        SELECT w.doc_id,
               {sql_davg('-ln(cnt.c / CAST(n.total AS DOUBLE))', 'avg_nll')}
        FROM w JOIN cnt ON w.word = cnt.word CROSS JOIN n
        GROUP BY w.doc_id""",
)
def text_unigram_logprob(spark: SparkSession, d: str) -> DataFrame:
    """Pseudo-perplexity quality signal: per-doc mean negative log
    probability under the corpus unigram distribution — low = generic
    boilerplate, high = rare-token soup; both tails are cut in LLM
    corpus curation [EXT]. Two keyed aggregations + an unhinted join on
    word (the unigram relation is vocabulary-sized — AQE decides, same
    posture as text_tfidf); the 1-row total is broadcast."""
    doc = t(spark, d, "documents")
    w = doc.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
    # corpus token total from per-row split sizes, not from the
    # exploded relation: Σ size(split) ≡ count(explode(split)) exactly,
    # but counting the explode evaluates the corpus-wide Generate once
    # more; this is a narrow map with no Generate
    n = doc.select(
        F.size(F.split(F.lower("text"), " ")).alias("_nt")
    ).agg(F.sum("_nt").cast("double").alias("total"))
    cnt = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    nll = -F.log(F.col("c") / F.col("total"))
    return (
        w.join(cnt, "word")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(davg(nll, "avg_nll"))
    )


@op(
    "pack_sequences_greedy",
    """WITH tok AS (
         SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
         FROM documents),
       c AS (
         SELECT doc_id, source, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS cum_before
         FROM tok)
       SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(cum_before // 2048 AS BIGINT) AS pack_id,
              CAST(cum_before % 2048 AS BIGINT) AS offset_in_pack
       FROM c""",
)
def pack_sequences_greedy(spark: SparkSession, d: str) -> DataFrame:
    """Sequence packing for training: docs are laid head-to-tail in
    deterministic (doc_id) order and cut into 2048-token packs; each
    doc gets (pack_id, offset) [EXT: every pretraining pipeline packs].
    Packing is PER SOURCE (one window shuffle on the source key) — a
    single global running sum would serialize through one reducer at
    corpus scale."""
    doc = t(spark, d, "documents")
    tok = doc.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    c = tok.withColumn("cum_before", cum_before)
    return c.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("cum_before div 2048").alias("pack_id"),
        (F.col("cum_before") % 2048).cast("bigint").alias("offset_in_pack"),
    )


@op(
    "graph_pagerank",
    """WITH nodes AS (SELECT c_custkey AS id FROM customer),
n AS (SELECT COUNT(*) AS cnt FROM nodes),
edges AS (
  SELECT id AS src, ((id % (SELECT cnt FROM n) * 7 + k * 13) % (SELECT cnt FROM n)) + 1 AS dst
  FROM nodes CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) u),
e AS (SELECT src, dst FROM edges JOIN nodes ON dst = id),
deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
i1 AS (SELECT e.dst AS id, SUM(r0.r // deg.outdeg) AS m
       FROM e JOIN deg USING (src) JOIN r0 ON r0.id = e.src GROUP BY e.dst),
r1 AS (SELECT nodes.id,
              CAST(150000 + (850000 * COALESCE(i1.m, 0)) // 1000000 AS BIGINT) AS r
       FROM nodes LEFT JOIN i1 ON i1.id = nodes.id),
i2 AS (SELECT e.dst AS id, SUM(r1.r // deg.outdeg) AS m
       FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src GROUP BY e.dst),
r2 AS (SELECT nodes.id,
              CAST(150000 + (850000 * COALESCE(i2.m, 0)) // 1000000 AS BIGINT) AS r
       FROM nodes LEFT JOIN i2 ON i2.id = nodes.id),
i3 AS (SELECT e.dst AS id, SUM(r2.r // deg.outdeg) AS m
       FROM e JOIN deg USING (src) JOIN r2 ON r2.id = e.src GROUP BY e.dst),
r3 AS (SELECT nodes.id,
              CAST(150000 + (850000 * COALESCE(i3.m, 0)) // 1000000 AS BIGINT) AS r
       FROM nodes LEFT JOIN i3 ON i3.id = nodes.id),
i4 AS (SELECT e.dst AS id, SUM(r3.r // deg.outdeg) AS m
       FROM e JOIN deg USING (src) JOIN r3 ON r3.id = e.src GROUP BY e.dst),
r4 AS (SELECT nodes.id,
              CAST(150000 + (850000 * COALESCE(i4.m, 0)) // 1000000 AS BIGINT) AS r
       FROM nodes LEFT JOIN i4 ON i4.id = nodes.id)
SELECT id AS c_custkey, r AS rank_micro FROM r4""",
)
def graph_pagerank(spark: SparkSession, d: str) -> DataFrame:
    """PageRank, 4 synchronous iterations over a deterministic 3-out
    synthetic graph on the customer keys [EXT: iterative-algorithm
    exemplar #2 beside connected components].

    Ranks are BIGINT micro-units and every update is integer-only
    (contribution = rank div outdeg; new = 150000 + 850000·Σ div 1e6),
    so the fixpoint arithmetic is bit-identical across engines — no
    float accumulation to drift. Each iteration is one keyed
    shuffle (contributions groupBy dst) plus a left join back to the
    node set; the plan unrolls 4 supersteps lazily (at larger iteration
    counts, checkpoint per superstep like llm/components.py)."""
    cust = t(spark, d, "customer")
    nodes = cust.select(F.col("c_custkey").alias("id"))
    cnt = nodes.agg(F.count(F.lit(1)).alias("cnt"))
    ks = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
    edges = (
        nodes.crossJoin(F.broadcast(cnt))
        .select("id", ks, "cnt")
        .select(
            F.col("id").alias("src"),
            ((F.col("id") % F.col("cnt") * 7 + F.col("k") * 13) % F.col("cnt") + 1).alias("dst"),
        )
    )
    e = edges.join(nodes.select(F.col("id").alias("dst")), "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e.join(deg, "src")
    r = nodes.select("id", F.lit(1000000).cast("long").alias("r"))
    for _ in range(4):
        contrib = (
            ed.join(r.select(F.col("id").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("r div outdeg")).alias("m"))
            .withColumnRenamed("dst", "id")
        )
        r = nodes.join(contrib, "id", "left").select(
            "id",
            F.expr(
                "CAST(150000 + (850000 * coalesce(m, 0)) div 1000000 AS BIGINT)"
            ).alias("r"),
        )
    return r.select(F.col("id").alias("c_custkey"), F.col("r").alias("rank_micro"))


@op(
    "text_contamination_ngram",
    """WITH w AS (SELECT doc_id, source, string_split(lower(text), ' ') AS words
                  FROM documents),
g AS (SELECT DISTINCT doc_id, source,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
             words[i+3] || ' ' || words[i+4] AS gram
      FROM (SELECT doc_id, source, words,
                   unnest(generate_series(1, greatest(len(words) - 4, 1))) AS i
            FROM w)),
bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE source = 'src0'),
corpus AS (SELECT doc_id, gram FROM g WHERE source != 'src0'),
hits AS (SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
         FROM corpus c JOIN bench b ON c.gram = b.gram
         GROUP BY c.doc_id, b.bench_id)
SELECT doc_id,
       CAST(MAX(n_shared) AS BIGINT) AS max_shared_5grams,
       CAST(COUNT(*) AS BIGINT) AS n_bench_docs_hit
FROM hits GROUP BY doc_id""",
)
def text_contamination_ngram(spark: SparkSession, d: str) -> DataFrame:
    """Benchmark decontamination [EXT: every serious pretraining corpus
    is screened for eval-set leakage]: 5-gram overlap of each corpus
    doc against the held-out set (source 'src0' plays the benchmark).
    The join is keyed on the shared gram — cost scales with actual
    overlap, never corpus × benchmark; at 100 TB the benchmark gram
    side is small and broadcasts."""
    doc = t(spark, d, "documents")
    g = (
        shingles(doc, "doc_id", "text", k=5)
        .dropDuplicates(["doc_id", "shingle"])
        .join(doc.select("doc_id", "source"), "doc_id")
    )
    bench = g.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    corpus = g.filter(F.col("source") != "src0").select("doc_id", "shingle")
    # deliberately NO broadcast hint: in THIS fixture the src0 proxy is
    # a fixed 1/20 SLICE of the corpus, so its gram relation grows
    # linearly with the data and a forced broadcast would OOM exactly
    # where the op must survive. In production the benchmark set is
    # fixed-size — broadcast it THERE; here the
    # gram-keyed shuffle join is the shape that holds at any volume.
    hits = (
        corpus.join(bench, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.groupBy("doc_id").agg(
        F.max("n_shared").cast("bigint").alias("max_shared_5grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_bench_docs_hit"),
    )


@op(
    "text_repetition_score",
    # 2-gram signals exist only for docs with >= 2 words; Spark's
    # shingles() emits none below k (the gram-family convention), so
    # the oracle filters the same universe
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
                  FROM documents
                  WHERE len(string_split(lower(text), ' ')) >= 2),
g2 AS (SELECT doc_id, words[i] || ' ' || words[i+1] AS gram
       FROM (SELECT doc_id, words,
                    unnest(generate_series(1, greatest(len(words) - 1, 1))) AS i
             FROM w)),
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
tstat AS (SELECT doc_id, SUM(cnt) AS n_tok, COUNT(*) AS n_uniq,
                 MAX(cnt) AS top_cnt
          FROM (SELECT doc_id, word, COUNT(*) AS cnt FROM tok GROUP BY doc_id, word)
          GROUP BY doc_id),
gstat AS (SELECT doc_id, COUNT(*) AS n_g2, COUNT(DISTINCT gram) AS n_g2_uniq
          FROM g2 GROUP BY doc_id)
SELECT t.doc_id,
       t.n_uniq / CAST(t.n_tok AS DOUBLE) AS distinct_token_ratio,
       t.top_cnt / CAST(t.n_tok AS DOUBLE) AS top_token_share,
       1 - g.n_g2_uniq / CAST(g.n_g2 AS DOUBLE) AS dup_2gram_ratio
FROM tstat t JOIN gstat g ON t.doc_id = g.doc_id""",
)
def text_repetition_score(spark: SparkSession, d: str) -> DataFrame:
    """Gopher-style repetition signals [EXT: repetition filters —
    distinct-token ratio, most-frequent-token share, duplicate-2-gram
    ratio]: highly repetitive docs are low-quality generations or
    boilerplate and get filtered before training. Two keyed
    aggregations per signal family, pure expressions."""
    doc = t(spark, d, "documents")
    tok = doc.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    per_word = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    tstat = per_word.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tok"),
        F.count(F.lit(1)).alias("n_uniq"),
        F.max("cnt").alias("top_cnt"),
    )
    g2 = shingles(doc, "doc_id", "text", k=2)
    gstat = g2.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_g2"),
        F.countDistinct("shingle").alias("n_g2_uniq"),
    )
    return tstat.join(gstat, "doc_id").select(
        "doc_id",
        (F.col("n_uniq") / F.col("n_tok").cast("double")).alias(
            "distinct_token_ratio"
        ),
        (F.col("top_cnt") / F.col("n_tok").cast("double")).alias("top_token_share"),
        (F.lit(1) - F.col("n_g2_uniq") / F.col("n_g2").cast("double")).alias(
            "dup_2gram_ratio"
        ),
    )


@op(
    "vec_l2_normalize",
    """WITH norms AS (
         SELECT vec_id,
                sqrt(CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE)) AS l2_norm
         FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
               FROM embeddings)
         GROUP BY vec_id),
       u AS (
         SELECT vec_id,
                CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
                CAST(unnest(embedding) AS DOUBLE) AS x
         FROM embeddings)
       SELECT u.vec_id, u.pos,
              u.x / NULLIF(n.l2_norm, 0.0) AS u,
              n.l2_norm
       FROM u JOIN norms n ON u.vec_id = n.vec_id""",
)
def vec_l2_normalize(spark: SparkSession, d: str) -> DataFrame:
    """L2-normalize embeddings to unit vectors [EXT: cosine = dot on
    unit vectors — normalize once at ingest, every downstream
    similarity op becomes a cheap dot product].

    Whole-row expression pipeline: the squared-norm fold is the
    DECIMAL(25,6)-accumulated exact sum (order-independent, same as
    ``array_fold_dot``), then one sqrt and one per-element divide —
    both single IEEE ops, bit-identical across engines. The
    production shape is the array-valued narrow map (no shuffle); the
    REGISTERED output posexplodes it to long (vec_id, pos, u) rows
    because the driver canonicalizer cannot hash array-typed output
    columns (it fails with "unhashable type" on them) — each unit
    component is still the exact x/norm double."""
    e = t(spark, d, "embeddings")
    ad = F.transform("embedding", lambda x: x.cast("double"))
    dot = dec_norm_sq(ad)
    # Materialize the norm as a column BEFORE the per-element divide:
    # referencing the norm expression inside the transform lambda would
    # re-evaluate the whole fold per element (O(dim²) per row — measured
    # 8 s → 0.3 s at sf0.1 for this projection split).
    withnorm = e.select(
        "vec_id", ad.alias("ad"), F.sqrt(dot.cast("double")).alias("l2_norm")
    )
    # NULLIF: a zero vector has no unit direction — NULL elements in
    # both engines instead of an ANSI DIVIDE_BY_ZERO, which would kill
    # the stage on a corpus holding one all-zero embedding
    exploded = withnorm.select(
        "vec_id", F.posexplode("ad").alias("pos0", "x"), "l2_norm"
    )
    return exploded.select(
        "vec_id",
        # posexplode is 0-based, generate_subscripts 1-based: align.
        (F.col("pos0") + F.lit(1)).cast("int").alias("pos"),
        (F.col("x") / F.nullif(F.col("l2_norm"), F.lit(0.0))).alias("u"),
        "l2_norm",
    )


@op(
    "text_ngram_topk",
    """WITH w AS (SELECT lang, string_split(lower(text), ' ') AS words
                  FROM documents),
       b AS (SELECT lang,
                    unnest(list_transform(generate_series(1, len(words) - 1),
                           i -> words[i] || ' ' || words[i + 1])) AS bigram
             FROM w),
       c AS (SELECT lang, bigram, COUNT(*) AS n FROM b GROUP BY 1, 2)
       SELECT lang, bigram, CAST(n AS BIGINT) AS n, rk FROM (
         SELECT lang, bigram, n,
                ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n DESC, bigram) AS rk
         FROM c) WHERE rk <= 10""",
)
def text_ngram_topk(spark: SparkSession, d: str) -> DataFrame:
    """Top-k bigrams per language [EXT: corpus n-gram statistics —
    vocabulary induction, contamination screens, Zipf audits].

    Bigrams are built inside the row with higher-order functions
    (sequence + transform over word indices — no UDF, no self-join),
    then one explode feeds a map-side-combinable count and a top-k
    window per language. The heavy relation (every bigram occurrence)
    exists only inside one shuffle; at 100 TB the count pre-aggregates
    per partition before exchange. Deterministic total order: (count
    DESC, bigram ASC).

    The split is materialized as a column in its OWN projection before
    the transform lambda touches it — element_at over an inline split
    expression re-runs the split per array element (O(words²) string
    work per row; the same hazard vec_l2_normalize documents).
    Measured: 3.34 s → 0.48 s at sf0.1."""
    doc = t(spark, d, "documents")
    ws = doc.select("lang", F.split(F.lower("text"), " ").alias("ws"))
    grams = F.when(
        F.size("ws") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ws"), i),
                F.element_at(F.col("ws"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        ws.select("lang", F.explode(grams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", "bigram", "n", "rk")
    )


@op(
    "text_quality_linear",
    """WITH q AS (
         SELECT doc_id, lang, n_chars,
                len(string_split(lower(text), ' ')) AS n_words,
                len(list_filter(string_split(lower(text), ' '),
                    w -> w = 'the' OR w = 'a' OR w = 'value' OR w = 'data'))
                    AS n_stop
         FROM documents),
       f AS (
         SELECT doc_id, lang,
                ((500000 * n_stop) // n_words)
                + ((300000 * LEAST(n_words, 64)) // 64)
                + ((200000 * LEAST((n_chars * 100) // n_words, 800)) // 800)
                    AS score_ppm
         FROM q)
       SELECT doc_id, lang, CAST(score_ppm AS BIGINT) AS score_ppm,
              CASE WHEN score_ppm >= 550000 THEN 'high'
                   WHEN score_ppm >= 400000 THEN 'mid'
                   ELSE 'low' END AS bucket
       FROM f""",
)
def text_quality_linear(spark: SparkSession, d: str) -> DataFrame:
    """Linear quality classifier [EXT: fastText-style scorer shape —
    fixed feature weights over cheap text statistics, the standard
    first-pass filter before an expensive model pass].

    The weighted sum is EXACT fixed-point integer arithmetic
    (parts-per-million, integer floor division) — the same
    bit-identical-across-engines discipline as ``graph_pagerank``.
    A double-weighted formulation was tried first and flaked: a score
    landing exactly on a dyadic .xxxxxx5 value (e.g. 0.3453125 from
    the /64 feature) rounds differently under Spark's HALF_UP
    double→decimal cast vs DuckDB's scaled-multiply — integer ppm has
    no rounding step at all. Features: stopword ratio (weight 0.5),
    clipped word count (0.3), clipped mean word length (0.2). Narrow
    map, no shuffle — at 100 TB this runs at scan speed."""
    doc = t(spark, d, "documents")
    words = F.split(F.lower("text"), " ")
    q = doc.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(words).cast("bigint").alias("n_words"),
        _n_stop(words).cast("bigint").alias("n_stop"),
    )
    awl_c = F.least(
        F.expr("(n_chars * 100) div n_words"), F.lit(800).cast("bigint")
    )
    q2 = q.withColumn("awl_c", awl_c).withColumn(
        "score_ppm",
        F.expr(
            "(500000 * n_stop) div n_words"
            " + (300000 * least(n_words, 64)) div 64"
            " + (200000 * awl_c) div 800"
        ),
    )
    return q2.select(
        "doc_id",
        "lang",
        F.col("score_ppm").cast("bigint").alias("score_ppm"),
        F.when(F.col("score_ppm") >= 550000, "high")
        .when(F.col("score_ppm") >= 400000, "mid")
        .otherwise("low")
        .alias("bucket"),
    )


@op(
    "graph_triangle_count",
    """WITH op AS (
         SELECT DISTINCT a.l_orderkey,
                a.l_suppkey AS sa, b.l_suppkey AS sb
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
       edges AS (
         SELECT sa, sb FROM op GROUP BY sa, sb HAVING COUNT(*) >= 4)
       SELECT CAST((SELECT COUNT(*) FROM (SELECT sa AS s FROM edges
                                          UNION SELECT sb FROM edges))
                   AS BIGINT) AS n_nodes,
              CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
              CAST((SELECT COUNT(*)
                    FROM edges e1
                    JOIN edges e2 ON e1.sb = e2.sa
                    JOIN edges e3 ON e3.sa = e1.sa AND e3.sb = e2.sb)
                   AS BIGINT) AS n_triangles""",
)
def graph_triangle_count(spark: SparkSession, d: str) -> DataFrame:
    """Triangle count over the supplier co-occurrence graph [EXT:
    graph statistics — community density, spam-cluster detection].

    Edges = supplier pairs co-occurring in ≥4 orders (the frequency
    threshold sparsifies a dense co-occurrence graph — the standard
    association-graph trick). Node ordering a<b orients every edge
    once, so each triangle is counted exactly once by the two-hop
    join e1(a,b)⋈e2(b,c)⋈e3(a,c) with a<b<c by construction — the
    compact-forward algorithm's join form, O(m^1.5) worst case. The
    per-order pair expansion is bounded by orders' line counts (≤7 in
    TPC-H-shaped data), not quadratic in the table."""
    li = t(spark, d, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_orderkey").alias("ok"),
            F.col("a.l_suppkey").alias("sa"),
            F.col("b.l_suppkey").alias("sb"),
        )
        .distinct()
    )
    edges = (
        pairs.groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 4)
        .select("sa", "sb")
    )
    nodes = edges.select(F.col("sa").alias("s")).union(
        edges.select(F.col("sb").alias("s"))
    ).distinct()
    tri = (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e1.sb") == F.col("e2.sa"))
        .join(
            edges.alias("e3"),
            (F.col("e3.sa") == F.col("e1.sa"))
            & (F.col("e3.sb") == F.col("e2.sb")),
        )
    )
    return (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


@op(
    "dedup_chunk_level",
    """WITH w AS (
         SELECT doc_id, string_split(lower(text), ' ') AS words
         FROM documents),
       ch AS (
         SELECT doc_id,
                unnest(list_transform(
                  generate_series(0, (len(words) - 1) // 20),
                  i -> array_to_string(
                         list_slice(words, i * 20 + 1, i * 20 + 20), ' ')))
                  AS chunk
         FROM w),
       freq AS (
         SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs
         FROM ch GROUP BY chunk)
       SELECT ch.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_chunks,
              CAST(COUNT(*) FILTER (WHERE freq.n_docs > 1) AS BIGINT)
                AS n_dup_chunks,
              CAST((1000000 * COUNT(*) FILTER (WHERE freq.n_docs > 1))
                   // COUNT(*) AS BIGINT) AS dup_ppm
       FROM ch JOIN freq ON ch.chunk = freq.chunk
       GROUP BY ch.doc_id""",
)
def dedup_chunk_level(spark: SparkSession, d: str) -> DataFrame:
    """Chunk-level duplication audit [EXT: CCNet/C4-style paragraph
    dedup — the unit of deduplication is a 20-word chunk, and a doc's
    duplication ratio is how many of its chunks appear in other docs].

    Chunks are built in-row with higher-order functions (sequence +
    list_slice — no UDF), then ONE shuffle groups identical chunks
    across the corpus (count distinct docs per chunk, map-side
    combinable) and a join back scores each document. The ratio is
    exact fixed-point ppm (integer floor division — no float rounding
    surface). At 100 TB this is the standard two-pass shape: chunk
    frequency table, then per-doc audit; the frequency relation is
    corpus-sized but hash-partitioned, never collected."""
    doc = t(spark, d, "documents")
    # split materialized before the lambda (inline-split-in-lambda =
    # O(words²) per row; see text_ngram_topk / llm/minhash.shingles)
    ws = doc.select("doc_id", F.split(F.lower("text"), " ").alias("_ws"))
    ch = ws.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.expr("(size(_ws) - 1) div 20")),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_ws"), i * F.lit(20) + 1, 20)
                ),
            )
        ).alias("chunk"),
    )
    freq = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    joined = ch.join(freq, "chunk")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_if(F.col("n_docs") > 1).alias("n_dup_chunks"),
        F.expr(
            "(1000000 * count_if(n_docs > 1)) div count(*)"
        ).alias("dup_ppm"),
    )


@op(
    "sample_temperature_mixture",
    f"""WITH s AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
       w AS (SELECT source, n,
                    CAST(FLOOR(SQRT(CAST(n AS DOUBLE) * 1000000.0)) AS BIGINT)
                      AS wr
             FROM s),
       q AS (SELECT source, wr,
                    CAST((200 * wr) // (SELECT SUM(wr) FROM w) AS BIGINT)
                      AS quota
             FROM w),
       r AS (SELECT doc_id, source,
                    ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY {_SPLIT_BUCKET_SQL},
                                                doc_id) AS rk
             FROM documents)
       SELECT r.doc_id, r.source, q.quota
       FROM r JOIN q ON r.source = q.source WHERE r.rk <= q.quota""",
)
def sample_temperature_mixture(spark: SparkSession, d: str) -> DataFrame:
    """Temperature-scaled source mixing (α = 0.5) [EXT: the multilingual
    /multi-source sampling rule from mBERT/XLM-R and T5 data recipes —
    upsample small sources, downsample large ones ∝ n^α].

    Per-source weights are sqrt(n) in fixed-point micro-units (IEEE
    sqrt is correctly rounded, so both engines floor the identical
    double); quotas are exact integer division of the 200-doc budget;
    the quota is filled by a deterministic multiplicative-hash rank
    within each source (the shared overflow-free _split_bucket — the
    naive id*A product overflows int64 beyond ~3.5e9 ids)
    — reproducible, no RNG, no collect. Shape at 100 TB: one
    combinable count, one tiny quota relation broadcast back, one
    per-source rank window."""
    doc = t(spark, d, "documents")
    s = doc.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = s.select(
        "source",
        F.floor(F.sqrt(F.col("n").cast("double") * F.lit(1000000.0)))
        .cast("bigint")
        .alias("wr"),
    )
    total = w.agg(F.sum("wr").alias("tw"))
    q = w.crossJoin(F.broadcast(total)).select(
        "source", F.expr("(200 * wr) div tw").alias("quota")
    )
    rk = Window.partitionBy("source").orderBy(
        _split_bucket(F.col("doc_id")), "doc_id"
    )
    r = doc.select(
        "doc_id", "source", F.row_number().over(rk).alias("rk")
    )
    return (
        r.join(F.broadcast(q), "source")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "source", "quota")
    )


@op(
    "vec_centroid_per_label",
    """WITH u AS (
         SELECT label,
                generate_subscripts(embedding, 1) AS pos,
                CAST(unnest(embedding) AS DOUBLE) AS x
         FROM embeddings),
       s AS (
         SELECT label, CAST(pos AS INT) AS pos,
                CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS m
         FROM u GROUP BY label, pos),
       n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
             FROM embeddings GROUP BY label)
       SELECT s.label, s.pos, s.m, n.n_vecs
       FROM s JOIN n ON s.label = n.label""",
)
def vec_centroid_per_label(spark: SparkSession, d: str) -> DataFrame:
    """Per-label mean embedding (class centroids) [EXT: clustering
    seeds, nearest-centroid classification, IVF coarse quantizer
    training].

    posexplode → per-(label, dimension) exact DECIMAL sums (map-side
    combinable: the shuffle carries #labels × dim partial rows, KB at
    any corpus size). Means are exact-sum / count — bit-identical
    doubles in both engines.

    Output is LONG form, one row per (label, pos) component: the
    driver canonicalizer cannot hash array-typed output columns (it
    fails with "unhashable type"), and long form is also the shape the
    downstream consumers (kmeans refine, IVF assignment) join on —
    re-assembly into array<double> is one array_sort(collect_list)
    away when a caller wants it."""
    e = t(spark, d, "embeddings")
    u = e.select(
        "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "label",
        # posexplode is 0-based, generate_subscripts 1-based: align.
        (F.col("pos0") + F.lit(1)).cast("int").alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )
    s = u.groupBy("label", "pos").agg(
        (
            F.sum(F.col("x").cast(DEC)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    n = e.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    # n is #labels rows (tiny at any corpus size): broadcast it so the
    # labels×dim mean relation never reshuffles for the join
    return s.join(F.broadcast(n), "label").select("label", "pos", "m", "n_vecs")


@op(
    "text_bpe_pair_count",
    """WITH w AS (
         SELECT lower(unnest(regexp_split_to_array(text, '[^A-Za-z]+')))
                  AS word
         FROM documents),
       ww AS (SELECT word FROM w WHERE strlen(word) >= 2),
       p AS (
         SELECT unnest(list_transform(range(1, strlen(word)),
                                      i -> substr(word, CAST(i AS INTEGER), 2)))
                  AS pair
         FROM ww)
       SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
       FROM p GROUP BY pair
       ORDER BY n DESC, pair LIMIT 30""",
)
def text_bpe_pair_count(spark: SparkSession, d: str) -> DataFrame:
    """Adjacent-pair frequency count — the inner loop of BPE vocabulary
    training [EXT: tokenizer training at corpus scale].

    Words explode from each document map-side; each word emits its
    len-1 adjacent character pairs via a higher-order transform over
    an index sequence (no UDF, no per-char explode — one array op per
    word). The only shuffle is the map-side-combined pair count; the
    top-30 is a TakeOrdered, not a global sort. A real BPE trainer
    iterates this exact job, merging the argmax pair each round —
    each iteration stays one combinable shuffle at any corpus size."""
    doc = t(spark, d, "documents")
    words = doc.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
    ).filter(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


_RP_COS_SQL = """
       CAST(ROUND(CAST(
         list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
         NULLIF(sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
          sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])), 0.0)
         AS DECIMAL(25,6)), 6) AS DOUBLE)"""


# sim_rp_lsh_cosine's two band keys: band b is the sign bits of the
# plane dot products dp{8b}..dp{8b+7} as a '0'/'1' string
_RP_BAND_KEYS = [
    "concat("
    + ", ".join(
        f"CASE WHEN dp{p} >= 0 THEN '1' ELSE '0' END" for p in range(lo, lo + 8)
    )
    + ")"
    for lo in (0, 8)
]


@op(
    "sim_rp_lsh_cosine",
    f"""WITH planes AS (
         SELECT p, j,
                ((1103515245 * (p * 64 + j) + 12345) // 65536) % 2048 - 1024 AS w
         FROM range(16) tp(p), range(64) tj(j)),
       comps AS (
         SELECT vec_id, j,
                CAST(FLOOR(CAST(embedding[j + 1] AS DOUBLE) * 1000000) AS BIGINT)
                  AS xi
         FROM embeddings, range(64) t(j)),
       dots AS (
         SELECT vec_id, p, SUM(xi * w) AS dp
         FROM comps JOIN planes USING (j) GROUP BY vec_id, p),
       bands AS (
         SELECT vec_id, p // 8 AS band_idx,
                string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, ''
                           ORDER BY p) AS band_key
         FROM dots GROUP BY vec_id, p // 8),
       cand AS (
         SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bands a JOIN bands b USING (band_idx, band_key)
         WHERE a.vec_id < b.vec_id)
       SELECT id_a, id_b, {_RP_COS_SQL} AS cos_sim
       FROM cand JOIN embeddings ea ON ea.vec_id = id_a
                 JOIN embeddings eb ON eb.vec_id = id_b
       WHERE {_RP_COS_SQL} >= 0.30""",
)
def sim_rp_lsh_cosine(spark: SparkSession, d: str) -> DataFrame:
    """Random-hyperplane LSH for cosine similarity [EXT: ANN at corpus
    scale — SimHash for embeddings]: 16 deterministic pseudo-random
    hyperplanes (LCG-derived integer weights, exactly reproducible in
    SQL) -> per-vector sign bits from integer micro-unit dot products
    (floor(x*1e6) · w: BIGINT sums are exact in any order — no decimal
    routing needed) -> two 8-bit band keys -> candidate pairs only
    within a shared band -> exact cosine >= 0.30 verified on
    candidates only.

    Scale shape: the signature pass is posexplode -> broadcast join
    with the 16x64 plane relation -> one map-side-combined (vec_id,
    plane) integer aggregation — all whole-stage codegen (an earlier
    nested higher-order fold was 5x slower: HOF lambdas are
    interpreted per element). The wide ops are the band self-join
    (bounded by bucket occupancy, never all-pairs) and the
    candidate-pair vector fetch. Collision probability per band is
    (1 - theta/pi)^8, so bucket sizes stay tiny on near-uniform
    corpora and near-dups collide with high probability — the same
    contract as dedup_minhash_lsh but for the embedding column.
    The oracle mirrors the banding exactly (deterministic planes), so
    approximate recall is certified, not hidden."""
    from ..llm.minhash import candidate_pairs, explode_bands

    e = t(spark, d, "embeddings")
    comps = e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding", lambda x: F.floor(x.cast("double") * 1000000).cast("long")
            )
        ),
    ).select("vec_id", F.col("pos").alias("j"), F.col("col").alias("xi"))

    # the 16 plane weights are INLINE integer expressions of the
    # component index j (k = p*64 + j keeps the LCG stream identical
    # to the oracle) — a 64-row broadcast-relation join carries the
    # same values but pays a broadcast exchange + hash probe per
    # component row; computing them in-expression keeps the signature
    # pass one vec_id-keyed shuffle of 16 map-side-combined integer
    # partial sums with zero joins (A/B 2.51 → 2.15 s with the
    # occupancy pre-filter below; outputs hash-identical).
    def _w(p: int):
        k = F.col("j").cast("long") + F.lit(64 * p)
        lcg = F.lit(1103515245).cast("long") * k + 12345
        return ((lcg - lcg % 65536) / 65536).cast("long") % 2048 - 1024

    dots = comps.groupBy("vec_id").agg(
        *[
            F.sum(F.col("xi") * _w(p)).alias(f"dp{p}")
            for p in range(16)
        ]
    )

    sigs = explode_bands(dots, ["vec_id"], "band_idx", "band_key", _RP_BAND_KEYS)

    # bucket-occupancy cap (llm/minhash.py cap_buckets):
    # a degenerate corpus — heavy exact duplicates, all-zero vectors —
    # lands every copy in the same 8-bit band bucket, making the pair
    # fan-out quadratic in that bucket. Buckets over max_bucket are
    # dropped before any pair is generated; a qualifying pair is still
    # found via its other band unless every shared band is over-full.
    # Fixture occupancy is asserted far below the cap in
    # tests/test_llm.py, so the capped plan stays equal to the
    # uncapped oracle.
    max_bucket = 200

    # candidate pairs: one band-keyed aggregation of the capped bucket
    # members (capping before the collect instead of after it measured
    # A/B 2.51 → 2.17 s at sf0.1; outputs hash-identical)
    cand = candidate_pairs(sigs, "vec_id", max_bucket).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    ea = normed(e, F.col("vec_id").alias("id_a"), v="va", nrm="na")
    eb = normed(e, F.col("vec_id").alias("id_b"), v="vb", nrm="nb")
    cos = dround(score("va", "na", "vb", "nb"), 6)
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.30)
    )


@op(
    "pipeline_incremental_dedup",
    f"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
                  FROM documents),
       g AS (SELECT DISTINCT doc_id,
                    words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
             FROM (SELECT doc_id, words,
                          unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
                   FROM w)),
       sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
                        COUNT(*) AS n_inter
                 FROM g a JOIN g b ON a.gram = b.gram
                 WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                 GROUP BY a.doc_id, b.doc_id)
       SELECT new_id, corpus_id,
              {sql_dround('n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE)', 6)}
                AS jaccard
       FROM inter JOIN sz sa ON sa.doc_id = new_id
                  JOIN sz sb ON sb.doc_id = corpus_id
       WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.5""",
)
def pipeline_incremental_dedup(spark: SparkSession, d: str) -> DataFrame:
    """Incremental ingestion dedup [EXT: the 100-TB operating mode]:
    an arriving batch (doc_id % 5 = 0 here) is near-dup-checked against
    the standing corpus WITHOUT recomputing corpus-vs-corpus pairs —
    new-side band keys join corpus-side band keys, so the candidate
    join is new × bucket-mates, never corpus × corpus. In production
    the corpus signatures/band keys are an index at rest (written once,
    partitioned by band); each batch only computes its own signatures
    and probes. Exact-Jaccard verification on candidates only; the
    oracle is the brute-force cross-side comparison (banding recall is
    full on the fixtures, as asserted for the same parameters in
    tests/test_llm.py)."""
    from ..llm.minhash import band_keys, jaccard_verify, minhash_signature, shingles

    # spread_scan: the cached shingle relation inherits the one-task
    # scan's partitioning, serializing both aggregation passes (min
    # 1.32 → 0.92 s at sf0.1); no-op on well-split inputs
    doc = spread_scan(t(spark, d, "documents"), "doc_id")
    sh = shingles(doc, "doc_id", "text", 3).cache()
    bk = band_keys(minhash_signature(sh, "doc_id", 32), "doc_id", 32, 8)
    # Single-pass probe: a new-side/corpus-side split references ``bk``
    # twice, so Catalyst evaluates the 32-min signature aggregation
    # once per join side (one more exchange). Both the corpus-side
    # occupancy cap and the bucket membership are band-keyed windows,
    # so ONE exchange serves everything: the count window caps the
    # corpus side, the collect_set window materializes each bucket's
    # ≤cap corpus ids, and every NEW row explodes its bucket's array
    # map-side — identical pairs to the nb⋈cb join form, signature
    # pipeline evaluated once (A/B 1.64 → 1.57 s cold / 1.62 → 1.40 s
    # bench-protocol at sf0.1, outputs hash-identical).
    #
    # Scale shape: the corpus-side occupancy cap (the standing index
    # is bounded at build time in production) keeps each window
    # collect_set state ≤ cap; NEW rows are never buffered — a
    # boilerplate band bucket with k corpus members multiplies every
    # probing batch row that lands in it by k, the same quadratic
    # risk the other candidate generators cap. Inert on the fixtures
    # (max band bucket ~3, asserted in tests/test_llm.py), so the
    # capped plan equals the exact oracle.
    #
    # Not llm/minhash.py cap_buckets + candidate_pairs: this probe
    # counts only corpus rows, never caps new rows, and collects with a
    # window rather than a groupBy. Sharing the helpers would need a
    # mask parameter only this caller uses.
    wb = Window.partitionBy("band_idx", "band_key")
    is_new = F.col("doc_id") % 5 == 0
    bkf = bk.withColumn(
        "_cn", F.count(F.when(~is_new, 1)).over(wb)
    ).filter(is_new | (F.col("_cn") <= 200))
    withca = bkf.withColumn(
        "_ca", F.collect_set(F.when(~is_new, F.col("doc_id"))).over(wb)
    )
    cand = (
        withca.filter(is_new)
        .select(F.col("doc_id").alias("doc_a"), F.explode("_ca").alias("doc_b"))
        .dropDuplicates()
    )
    return jaccard_verify(cand, sh, "doc_id", 0.5).select(
        F.col("doc_a").alias("new_id"),
        F.col("doc_b").alias("corpus_id"),
        dround("jaccard", 6).alias("jaccard"),
    )


@op(
    "vec_kmeans_refine",
    """WITH comps AS (
         SELECT vec_id, j AS pos, CAST(embedding[j + 1] AS DOUBLE) AS x
         FROM embeddings, range(64) t(j)),
       c1 AS (
         SELECT cell, pos, ((cell * 7 + pos * 13) % 11 - 5) / 5.0 AS m
         FROM range(8) tc(cell), range(64) tp(pos)),
       d1 AS (
         SELECT vec_id, cell, SUM(CAST((x - m) * (x - m) AS DECIMAL(25,6))) AS dd
         FROM comps JOIN c1 USING (pos) GROUP BY vec_id, cell),
       a1 AS (
         SELECT vec_id, cell FROM d1
         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cell) = 1),
       c2 AS (
         SELECT cell, pos,
                CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
         FROM comps JOIN a1 USING (vec_id) GROUP BY cell, pos),
       d2 AS (
         SELECT vec_id, cell, SUM(CAST((x - m) * (x - m) AS DECIMAL(25,6))) AS dd
         FROM comps JOIN c2 USING (pos) GROUP BY vec_id, cell)
       SELECT vec_id, cell AS cluster, CAST(dd AS DOUBLE) AS dist_sq
       FROM d2
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cell) = 1""",
)
def vec_kmeans_refine(spark: SparkSession, d: str) -> DataFrame:
    """One exact k-means refinement, unrolled [EXT: embedding-space
    clustering for corpus curation]: assign to the deterministic IVF
    pseudo-centroids (same formula as sim_ivf_topk), recompute each
    non-empty cell's centroid as the exact per-dimension DECIMAL mean,
    re-assign, and emit (vec_id, cluster, dist_sq).

    Scale shape per iteration: the centroid relation is k×dim rows —
    always broadcast; assignment is a narrow map over the posexploded
    vectors with one (vec_id, cell)-keyed partial-aggregated shuffle;
    the centroid update shuffles only k×dim partial sums regardless of
    corpus size. Distances fold through DECIMAL(25,6) so the argmin
    (tie-broken by cell id) is bit-identical across engines — that is
    what lets an iterative ML-style algorithm be certified by a SQL
    oracle with two unrolled iterations."""
    # spread_scan: the cached exploded components inherit the
    # one-task scan's partitioning, so every assignment pass ran
    # single-core (1.88 → 1.20 s at sf0.1); no-op on
    # well-split inputs
    e = spread_scan(t(spark, d, "embeddings"), "vec_id")
    # cache: comps feeds assign(c1), the centroid update, and
    # assign(c2) — uncached it is re-scanned and re-exploded 3×
    # (the minhash cache pattern; measured ~2× on this op). The bench
    # harness clears the cache between ops.
    comps = (
        e.select(
            "vec_id", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
        )
        .withColumnsRenamed({"pos": "pos", "col": "x"})
        .cache()
    )

    # centroids ride as 8 COLUMNS of a 64-row broadcast relation, so
    # each assignment pass is |comps| rows with 8 decimal partial sums
    # keyed on vec_id alone — the earlier (cell, pos, m) tall layout
    # replicated every component 8×, shuffled on (vec_id, cell), and
    # needed a window argmin pass; the wide form does the argmin
    # in-expression (array_min + first-position tiebreak ≡ the old
    # ORDER BY dd, cell)
    poss = spark.range(64).select(F.col("id").cast("int").alias("pos"))
    c1w = poss.select(
        "pos",
        *[
            (((F.lit(c) * 7 + F.col("pos") * 13) % 11 - 5) / 5.0).alias(f"m{c}")
            for c in range(8)
        ],
    )

    def assign(cw: DataFrame) -> DataFrame:
        # per-term 6-dp quantization in integer MICRO-UNITS: ROUND(t*1e6)
        # is the same half-up grid as the oracle's per-term
        # DECIMAL(25,6) cast, but the multiply-accumulate stays in
        # BIGINT (measured 7x cheaper than Spark's decimal sum on this
        # pass; the decimal variant was the whole op's cost center).
        # The two paths can only disagree when the exact binary value
        # of t*1e6 sits within one ulp of a .5 boundary - not a value
        # arbitrary float data produces.
        diff = {c: F.col("x") - F.col(f"m{c}") for c in range(8)}
        dd = (
            comps.join(F.broadcast(cw), "pos")
            .groupBy("vec_id")
            .agg(
                *[
                    F.sum(
                        F.round(diff[c] * diff[c] * 1e6).cast("long")
                    ).alias(f"dd{c}")
                    for c in range(8)
                ]
            )
        )
        arr = F.array(*[F.col(f"dd{c}") for c in range(8)])
        mn = F.array_min(arr)
        return dd.select(
            "vec_id",
            (F.array_position(arr, mn) - 1).cast("int").alias("cell"),
            mn.alias("dd"),
        )

    a1 = assign(c1w).select("vec_id", "cell")
    c2 = (
        comps.join(a1, "vec_id")
        .groupBy("cell", "pos")
        .agg((F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("m"))
    )
    # pivot to the wide layout; cells that lost every member pivot to
    # all-NULL m columns → NULL dd → skipped by array_min, exactly the
    # oracle's absent-cell semantics
    c2w = (
        c2.groupBy("pos")
        .pivot("cell", list(range(8)))
        .agg(F.first("m"))
        .select("pos", *[F.col(str(c)).alias(f"m{c}") for c in range(8)])
    )
    return assign(c2w).select(
        "vec_id",
        F.col("cell").alias("cluster"),
        # micro-unit long -> value: IEEE division yields the nearest
        # double of the exact rational, same as the oracle's
        # DECIMAL -> DOUBLE conversion of the identical quantized sum
        (F.col("dd") / F.lit(1e6)).alias("dist_sq"),
    )


def _fake_resize(doc: DataFrame, schema: StructType) -> DataFrame:
    """Decode and resize each (doc_id, content) payload via mapInPandas,
    keeping the ``schema`` columns of (doc_id, n_bytes, src_w, src_h,
    dst_w, dst_h, resized_sha). The decoder is a deterministic fake —
    geometry from byte length, image libs are absent offline — then an
    aspect-preserving integer box fit to 64 px and a digest of the
    resized image. The batch function is a closure, so Spark pickles it
    by value and the workers need not import this package."""
    cols = schema.fieldNames()

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["content"].map(len).astype("int64")
            src_w = (n % 256 + 1).astype("int64")
            src_h = ((n // 256) % 256 + 1).astype("int64")
            wide = src_w >= src_h
            dst_w = (src_w * 64 // src_h).where(~wide, 64).astype("int32")
            dst_h = (src_h * 64 // src_w).where(wide, 64).astype("int32")
            key = (
                pdf["doc_id"].astype(str)
                + "x" + pd.Series(dst_w).astype(str)
                + "x" + pd.Series(dst_h).astype(str)
            )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "src_w": src_w.astype("int32"),
                    "src_h": src_h.astype("int32"),
                    "dst_w": dst_w,
                    "dst_h": dst_h,
                    "resized_sha": key.map(
                        lambda s: hashlib.sha256(s.encode()).hexdigest()
                    ),
                }
            )
            yield out[cols]

    return doc.mapInPandas(resize, schema=schema)


_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_w", IntegerType()),
        StructField("src_h", IntegerType()),
        StructField("dst_w", IntegerType()),
        StructField("dst_h", IntegerType()),
        StructField("resized_sha", StringType()),
    ]
)


@op(
    "multimodal_image_resize",
    """WITH g AS (
         SELECT doc_id,
                CAST(strlen(text) % 256 + 1 AS INTEGER) AS src_w,
                CAST((strlen(text) // 256) % 256 + 1 AS INTEGER) AS src_h
         FROM documents),
       r AS (
         SELECT doc_id, src_w, src_h,
                CASE WHEN src_w >= src_h THEN 64
                     ELSE CAST(src_w * 64 // src_h AS INTEGER) END AS dst_w,
                CASE WHEN src_w >= src_h THEN CAST(src_h * 64 // src_w AS INTEGER)
                     ELSE 64 END AS dst_h
         FROM g)
       SELECT doc_id, src_w, src_h, dst_w, dst_h,
              sha256(CAST(doc_id AS VARCHAR) || 'x' || CAST(dst_w AS VARCHAR)
                     || 'x' || CAST(dst_h AS VARCHAR)) AS resized_sha
       FROM r""",
)
def multimodal_image_resize(spark: SparkSession, d: str) -> DataFrame:
    """Aspect-preserving image resize over an opaque binary column via
    mapInPandas — completes the decode / feature-extract / resize /
    frame-sample multimodal set. The pixel decoder is a deterministic
    fake (geometry derived from byte length — image libs absent
    offline), but every piece of engine surface a real resizer needs
    is exercised: binary in, Arrow-batched partition-parallel Python,
    integer box-fit arithmetic (exact in both engines), bytes-shaped
    output keyed by a verifiable digest. Swap `_fake_resize`'s body for
    a real imaging library and nothing else changes."""
    doc = t(spark, d, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    return _fake_resize(doc, _RESIZE_SCHEMA)


@op(
    "text_bigram_logprob",
    f"""WITH d2 AS (
         SELECT doc_id, string_split(lower(text), ' ') AS ws
         FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
       pairs AS (
         SELECT doc_id, ws[i - 1] AS prev, ws[i] AS cur
         FROM (SELECT doc_id, ws, unnest(generate_series(2, len(ws))) AS i
               FROM d2)),
       allw AS (SELECT unnest(string_split(lower(text), ' ')) AS word
                FROM documents),
       tot AS (SELECT COUNT(*) AS total FROM allw),
       uni AS (SELECT word, COUNT(*) AS c_uni FROM allw GROUP BY word),
       bi AS (SELECT prev, cur, COUNT(*) AS c_bi FROM pairs GROUP BY prev, cur),
       ctx AS (SELECT prev, COUNT(*) AS c_ctx FROM pairs GROUP BY prev)
       SELECT p.doc_id,
              {sql_davg(
                  '-ln(0.75 * bi.c_bi / ctx.c_ctx '
                  '+ 0.25 * uni.c_uni / CAST(tot.total AS DOUBLE))',
                  'avg_nll')}
       FROM pairs p
       JOIN bi ON bi.prev = p.prev AND bi.cur = p.cur
       JOIN ctx ON ctx.prev = p.prev
       JOIN uni ON uni.word = p.cur
       CROSS JOIN tot
       GROUP BY p.doc_id""",
)
def text_bigram_logprob(spark: SparkSession, d: str) -> DataFrame:
    """Interpolated-bigram pseudo-perplexity [EXT: the LM-quality
    scorer one rung above text_unigram_logprob]: per-doc mean negative
    log of 0.75·p(cur|prev) + 0.25·p(cur), with bigram/context/unigram
    counts all taken from the corpus itself. Every probability is a
    ratio of exact integer counts (identical doubles in both engines);
    the davg decimal routing quantizes each ln term at 1e-6 before the
    sum, absorbing any cross-engine libm ulp. Count relations are
    vocabulary-sized — joins stay unhinted for AQE (the text_tfidf
    posture); only the 1-row total broadcasts."""
    doc = t(spark, d, "documents")
    ws = F.split(F.lower("text"), " ")
    d2 = doc.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 2)
    pairs = d2.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("ws")),
                lambda i: F.struct(
                    F.element_at("ws", i - 1).alias("prev"),
                    F.element_at("ws", i).alias("cur"),
                ),
            )
        ).alias("pq"),
    ).select("doc_id", "pq.prev", "pq.cur")
    allw = doc.select(F.explode(ws).alias("word"))
    tot = allw.agg(F.count(F.lit(1)).cast("double").alias("total"))
    uni = allw.groupBy("word").agg(F.count(F.lit(1)).alias("c_uni"))
    bi = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bi"))
    ctx = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("c_ctx"))
    p_interp = 0.75 * F.col("c_bi") / F.col("c_ctx") + 0.25 * F.col("c_uni") / F.col(
        "total"
    )
    return (
        pairs.join(bi, ["prev", "cur"])
        .join(ctx, "prev")
        .join(uni, pairs["cur"] == uni["word"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(davg(-F.log(p_interp), "avg_nll"))
    )


@op(
    "vec_quantize_pq",
    """WITH comps AS (
         SELECT vec_id, j, CAST(embedding[j + 1] AS DOUBLE) AS x
         FROM embeddings, range(64) t(j)),
       cent AS (
         SELECT id // 32 AS s, (id // 8) % 4 AS c, id % 8 AS jl,
                (id // 32) * 8 + id % 8 AS j,
                (((id // 32) * 5 + ((id // 8) % 4) * 3 + (id % 8) * 7) % 9 - 4)
                  / 4.0 AS m
         FROM range(256) t(id)),
       dists AS (
         SELECT vec_id, s, c, SUM(CAST((x - m) * (x - m) AS DECIMAL(25,6))) AS dd
         FROM comps JOIN cent USING (j) GROUP BY vec_id, s, c),
       codes AS (
         SELECT vec_id, s, c FROM dists
         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd, c) = 1),
       qtab AS (
         SELECT s, c,
                SUM(CAST(((((j * 37) % 19 - 9) / 9.0 - m)
                          * (((j * 37) % 19 - 9) / 9.0 - m)) AS DECIMAL(25,6)))
                  AS dq
         FROM cent GROUP BY s, c)
       SELECT vec_id,
              string_agg(CAST(codes.c AS VARCHAR), '' ORDER BY codes.s) AS codes,
              CAST(SUM(dq) AS DOUBLE) AS adist_sq
       FROM codes JOIN qtab ON qtab.s = codes.s AND qtab.c = codes.c
       GROUP BY vec_id""",
)
def vec_quantize_pq(spark: SparkSession, d: str) -> DataFrame:
    """Product quantization [EXT: the PQ index that makes
    billion-vector ANN fit in RAM]: 64 dims split into 8 subspaces of
    8; each subvector snaps to the nearest of 4 deterministic
    sub-centroids (exact DECIMAL distance folds, tie-broken by code),
    giving an 8-symbol code per vector; the approximate distance to
    the fixed query vector is then a pure TABLE LOOKUP — the
    per-(subspace, code) partial distances are precomputed once
    (32-row relation, broadcast) and summed per vector.

    Scale shape: encoding is posexplode + broadcast centroid join +
    one (vec, subspace, code) partial-aggregated shuffle; query-time
    scoring touches only codes and the 32-row lookup table — the
    original vectors never reload. Certified end-to-end by a SQL
    oracle running the identical arithmetic."""
    e = t(spark, d, "embeddings")
    comps = e.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))),
    ).select("vec_id", F.col("pos").alias("j"), F.col("col").alias("x"))

    idc = F.col("id")
    cent = spark.range(256).select(
        (idc / 32).cast("long").alias("s"),
        ((idc / 8).cast("long") % 4).alias("c"),
        ((idc / 32).cast("long") * 8 + idc % 8).alias("j"),
        (
            (((idc / 32).cast("long") * 5 + ((idc / 8).cast("long") % 4) * 3
              + (idc % 8) * 7) % 9 - 4) / 4.0
        ).alias("m"),
    )

    diff = F.col("x") - F.col("m")
    dists = (
        comps.join(F.broadcast(cent), "j")
        .groupBy("vec_id", "s", "c")
        .agg(F.sum((diff * diff).cast(DEC)).alias("dd"))
    )
    w = Window.partitionBy("vec_id", "s").orderBy("dd", "c")
    codes = (
        dists.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "s", "c")
    )

    qj = ((F.col("j") * 37) % 19 - 9) / 9.0
    qdiff = qj - F.col("m")
    qtab = cent.groupBy("s", "c").agg(F.sum((qdiff * qdiff).cast(DEC)).alias("dq"))

    return (
        codes.join(F.broadcast(qtab), ["s", "c"])
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("s"), F.col("c").cast("string").alias("cs")))
                    ),
                    lambda r: r["cs"],
                ),
            ).alias("codes"),
            F.sum("dq").cast("double").alias("adist_sq"),
        )
    )


@op(
    "events_active_users_rolling",
    """WITH days AS (
         SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
         FROM events),
       exp AS (
         SELECT day + k AS wday, user_id
         FROM days CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS k)),
       dau AS (SELECT day, COUNT(*) AS dau FROM days GROUP BY day),
       wau AS (SELECT wday, COUNT(DISTINCT user_id) AS wau FROM exp GROUP BY wday)
       SELECT day, dau, wau
       FROM dau JOIN wau ON wau.wday = dau.day""",
)
def events_active_users_rolling(spark: SparkSession, d: str) -> DataFrame:
    """Rolling active users (DAU + trailing-7-day WAU) [EXT: the
    product-analytics staple]. COUNT(DISTINCT) over a sliding range
    window isn't window-able (sets don't subtract), so the scale-sane
    rewrite is grid expansion: each distinct (user, day) activity row
    contributes to the 7 window-end days it can be seen from, then one
    keyed distinct-count per window-end — a bounded 7× expansion of
    the deduplicated activity relation, never a per-window rescan of
    raw events. Same decomposition trick as join_interval_overlap."""
    e = t(spark, d, "events")
    days = e.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    dau = days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    expanded = days.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("wday"),
        "user_id",
    )
    wau = expanded.groupBy("wday").agg(F.count_distinct("user_id").alias("wau"))
    return dau.join(wau, dau["day"] == wau["wday"]).select("day", "dau", "wau")


@op(
    "sample_negative_pairs",
    """WITH nb AS (SELECT GREATEST(COUNT(*) // 20, 1) AS n_buckets
                  FROM embeddings),
       e AS (SELECT vec_id, label, vec_id % n_buckets AS bucket
             FROM embeddings, nb),
       cand AS (
         SELECT a.vec_id, b.vec_id AS neg_id,
                (1103515245 * ((a.vec_id % 2147483648 * 1000 + b.vec_id % 2147483648) % 2147483648)
                 + 12345) % 2147483648 AS h
         FROM e a JOIN e b
           ON a.bucket = b.bucket AND a.label <> b.label)
       SELECT vec_id, neg_id, CAST(rnk AS INTEGER) AS rnk FROM (
         SELECT vec_id, neg_id,
                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY h, neg_id) AS rnk
         FROM cand)
       WHERE rnk <= 3""",
)
def sample_negative_pairs(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training [EXT]:
    each vector draws 3 pseudo-random different-label negatives,
    ranked by an LCG hash of the pair — reproducible across runs and
    engines (no rand()). The candidate join is blocked on a hash
    bucket with the bucket COUNT derived from the corpus size
    (n/20 buckets → ~20 members each), so the per-anchor candidate
    pool is a constant ~20 at ANY corpus size and the join output is
    O(n), never O(n²/const) — a fixed bucket count would silently go
    quadratic at 100 TB. The count rides in as a broadcast 1-row
    relation (scalar subquery in the oracle), keeping the plan fully
    distributed."""
    e0 = t(spark, d, "embeddings").select("vec_id", "label")
    nb = e0.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / 20).cast("long"), F.lit(1).cast("long")
        ).alias("n_buckets")
    )
    e = e0.crossJoin(F.broadcast(nb)).select(
        "vec_id", "label", (F.col("vec_id") % F.col("n_buckets")).alias("bucket")
    )
    a = e.select(
        F.col("vec_id"), F.col("label").alias("la"), F.col("bucket")
    )
    b = e.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("lb"),
        F.col("bucket"),
    )
    # BOTH operands pre-reduced mod 2^31 BEFORE the *1000 and the LCG
    # multiply: the raw vec_id*1000 itself overflows past ~9.2e15 ids
    # and the LCG product past ~8.3e6 (an ANSI ARITHMETIC_OVERFLOW on
    # hash-scale ids, e.g. 64-bit hashed keys) — every intermediate now
    # stays < 2^62 at ANY id magnitude, and the result is identical
    # by modular arithmetic wherever the naive forms didn't overflow.
    pair_key = (
        F.col("vec_id") % 2147483648 * 1000 + F.col("neg_id") % 2147483648
    ) % 2147483648
    h = (F.lit(1103515245).cast("long") * pair_key + 12345) % 2147483648
    w = Window.partitionBy("vec_id").orderBy("h", "neg_id")
    return (
        a.join(b, "bucket")
        .filter(F.col("la") != F.col("lb"))
        .select("vec_id", "neg_id", h.alias("h"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("vec_id", "neg_id", F.col("rnk").cast("int").alias("rnk"))
    )


@op(
    "text_js_divergence_sources",
    """WITH w AS (SELECT source, unnest(string_split(lower(text), ' ')) AS word
                  FROM documents),
       csw AS (SELECT source, word, COUNT(*) AS c_sw FROM w GROUP BY 1, 2),
       ns AS (SELECT source, COUNT(*) AS n_s FROM w GROUP BY 1),
       cw AS (SELECT word, COUNT(*) AS c_w FROM w GROUP BY 1),
       n AS (SELECT COUNT(*) AS n_tot FROM w),
       grid AS (
         SELECT ns.source, cw.word, ns.n_s, cw.c_w, n.n_tot,
                COALESCE(csw.c_sw, 0) AS c_sw
         FROM ns CROSS JOIN cw CROSS JOIN n
         LEFT JOIN csw ON csw.source = ns.source AND csw.word = cw.word),
       terms AS (
         SELECT source,
                CAST(c_sw AS DOUBLE) / n_s AS p,
                CAST(c_w AS DOUBLE) / n_tot AS q
         FROM grid)
       SELECT source,
              CAST(SUM(CAST(0.5 * (
                CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END
                + q * ln(q / ((p + q) / 2))) AS DECIMAL(25,6)))
                AS DOUBLE) AS js_to_corpus
       FROM terms GROUP BY source""",
)
def text_js_divergence_sources(spark: SparkSession, d: str) -> DataFrame:
    """Per-source distribution drift [EXT: mixture monitoring — which
    source's unigram distribution diverges from the corpus]: exact
    Jensen-Shannon divergence between each source's word distribution
    and the corpus distribution over the full vocabulary grid
    (source-absent words contribute the q-side term only). All
    probabilities are ratios of exact integer counts (identical
    doubles both engines); each JS term is DECIMAL-quantized at 1e-6
    before summing, absorbing libm ulp. The grid is sources ×
    vocabulary — bounded by the vocabulary, never by the corpus."""
    doc = t(spark, d, "documents")
    w = doc.select("source", F.explode(F.split(F.lower("text"), " ")).alias("word"))
    csw = w.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c_sw"))
    ns = w.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    cw = w.groupBy("word").agg(F.count(F.lit(1)).alias("c_w"))
    n = w.agg(F.count(F.lit(1)).alias("n_tot"))
    grid = (
        ns.crossJoin(cw)
        .crossJoin(F.broadcast(n))
        .join(csw, ["source", "word"], "left")
        .select(
            "source",
            (F.coalesce(F.col("c_sw"), F.lit(0)).cast("double") / F.col("n_s")).alias("p"),
            (F.col("c_w").cast("double") / F.col("n_tot")).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    m = (p + q) / 2
    # the 0.5 halving happens INSIDE each term, before the quantizing
    # decimal cast: halving an already-quantized sum with an odd last
    # digit lands exactly on a .5e-7 midpoint, where the engines'
    # decimal/double rounding paths disagree
    term = (
        0.5
        * (F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) + q * F.log(q / m))
    ).cast(DEC)
    return grid.groupBy("source").agg(
        F.sum(term).cast("double").alias("js_to_corpus")
    )


def _ann_recall_sql(n_cells: int = 8, dim: int = 64, k: int = 10, n_queries: int = 20) -> str:
    """Oracle for the IVF recall evaluation: replays the deterministic
    cell assignment (the first-max-wins CASE chain of _sql_ivf_cell)
    for every vector, takes the first ``n_queries`` vectors as probe
    queries, and computes exact-top-k vs in-cell-top-k overlap with the
    shared rounded-cosine + id-tiebreak ranking contract."""
    dot_cols, cases = _sql_ivf_cell(ivf_centroids(n_cells, dim))
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT vec_id, v,
       {dot_cols}
      FROM v),
a AS (SELECT vec_id, v, CASE {cases} END AS cell FROM d),
q AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell FROM a
      WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.q_id, a.vec_id, (a.cell = q.q_cell) AS in_cell,
         CAST(ROUND(CAST({_sql_cos('a.v', 'q.qv')} AS DECIMAL(25,6)), 6)
              AS DOUBLE) AS cos_sim
  FROM a JOIN q ON a.vec_id <> q.q_id),
ranked AS (
  SELECT q_id, vec_id, in_cell, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS exact_rk,
         ROW_NUMBER() OVER (PARTITION BY q_id, in_cell
                            ORDER BY cos_sim DESC, vec_id) AS ivf_rk
  FROM scored)
SELECT q_id,
       CAST(SUM(CASE WHEN exact_rk <= {k} AND in_cell AND ivf_rk <= {k}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN exact_rk <= {k} AND in_cell AND ivf_rk <= {k}
                     THEN 1 ELSE 0 END) / {k}.0 AS DOUBLE) AS recall_at_{k}
FROM ranked GROUP BY q_id
"""


@op("sim_ann_recall_eval", _ann_recall_sql())
def sim_ann_recall_eval(spark: SparkSession, d: str) -> DataFrame:
    """ANN quality harness [EXT: an index you can't measure is an index
    you can't trust]: per probe query (the first 20 corpus vectors),
    recall@10 of the single-probe IVF search against the exact
    brute-force top-10. Both rankings come from one scored relation —
    cosine vs each query, rounded at 1e-6 with id tiebreak — windowed
    twice: globally per query (exact) and within the query's centroid
    cell (IVF).

    Scale shape: queries are a broadcast ~constant-size relation, so
    the scored relation is a narrow map over the corpus (no shuffle);
    the two rankings reuse one q_id-keyed sort. The evaluation itself
    is what a 100 TB pipeline runs on a sampled probe set to pick
    n_cells/n_probe — the measurement is first-class, not a test-only
    artifact."""
    n_cells, k, n_queries = 8, 10, 20
    e = t(spark, d, "embeddings")
    # norms and cells once per vector, on both sides of the cross join
    a = normed(e, "vec_id").select(
        "*", ivf_cell(F.col("v"), ivf_centroids(n_cells, 64)).alias("cell")
    )
    q = a.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("cell").alias("q_cell"),
    )
    scored = (
        a.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (F.col("cell") == F.col("q_cell")).alias("in_cell"),
            dround(score("v", "nrm", "qv", "qn"), 6).alias("cos_sim"),
        )
    )
    w_exact = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    w_ivf = Window.partitionBy("q_id", "in_cell").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    hit = (
        (F.col("exact_rk") <= k)
        & F.col("in_cell")
        & (F.col("ivf_rk") <= k)
    ).cast("int")
    return (
        scored.withColumn("exact_rk", F.row_number().over(w_exact))
        .withColumn("ivf_rk", F.row_number().over(w_ivf))
        .groupBy("q_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_hits"),
            (F.sum(hit) / F.lit(float(k))).cast("double").alias(f"recall_at_{k}"),
        )
    )


_PRETRAIN_E2E_SQL = f"""
WITH sized AS (
  SELECT doc_id, lang, source, text,
         len(string_split(lower(text), ' ')) AS n_words
  FROM documents),
gated AS (SELECT * FROM sized WHERE lang = 'en' AND n_words BETWEEN 20 AND 70),
exact AS (
  SELECT doc_id, source, text, n_words FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM gated) WHERE rn = 1),
corpus AS (SELECT * FROM exact WHERE source <> 'src0'),
w3 AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM corpus),
g3 AS (SELECT DISTINCT doc_id,
              words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
       FROM (SELECT doc_id, words,
                    unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
             FROM w3)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g3 GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM g3 a JOIN g3 b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
nd_drop AS (SELECT DISTINCT doc_b AS doc_id
            FROM inter JOIN sz sa ON sa.doc_id = doc_a
                       JOIN sz sb ON sb.doc_id = doc_b
            WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.5),
survivors AS (SELECT * FROM corpus
              WHERE doc_id NOT IN (SELECT doc_id FROM nd_drop)),
w5c AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM survivors),
g5c AS (SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
               words[i+3] || ' ' || words[i+4] AS gram
        FROM (SELECT doc_id, words,
                     unnest(generate_series(1, greatest(len(words) - 4, 1))) AS i
              FROM w5c)),
w5b AS (SELECT doc_id, string_split(lower(text), ' ') AS words
        FROM documents WHERE source = 'src0'),
g5b AS (SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
               words[i+3] || ' ' || words[i+4] AS gram
        FROM (SELECT doc_id, words,
                     unnest(generate_series(1, greatest(len(words) - 4, 1))) AS i
              FROM w5b)),
hits AS (SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
         FROM g5c c JOIN g5b b ON c.gram = b.gram
         GROUP BY 1, 2),
contam AS (SELECT DISTINCT doc_id FROM hits WHERE n_shared >= 3)
SELECT doc_id, n_words, {{split_case}} AS split
FROM survivors
WHERE doc_id NOT IN (SELECT doc_id FROM contam)
"""


@op(
    "pipeline_pretrain_e2e",
    _PRETRAIN_E2E_SQL.format(split_case=_SPLIT_CASE_SQL),
)
def pipeline_pretrain_e2e(spark: SparkSession, d: str) -> DataFrame:
    """The full pretraining-corpus build in one dataflow [EXT: the
    composition a 100 TB data pipeline actually ships]: quality gate
    (language + length band) → exact dedup (keep lowest id per text) →
    MinHash-LSH near-dup removal (banded candidates, capped buckets,
    exact Jaccard ≥ 0.5 verify; the higher id of each verified pair is
    dropped — pairwise keep-lowest, deterministic and closed-form in
    SQL, unlike greedy chain resolution) → benchmark decontamination
    (drop survivors sharing ≥3 distinct 5-grams with any 'src0'
    benchmark doc) → deterministic train/val/test split.

    The stages share the engine's builders, not whole registry ops:
    the near-dup stage is ``minhash_near_dups`` (the pipeline behind
    dedup_minhash_lsh) and the contamination screen is built on
    ``shingles``. The gate and the exact dedup are this op's own (a
    min(struct) aggregate, not pipeline_corpus_curation's window), and
    contamination is screened by its own 5-gram join on the
    exact-deduped corpus, not through text_contamination_ngram. This
    op certifies the COMPOSITION — filters feed the dedup, the dedup
    feeds the screen, one dataflow, no driver round-trips. Scale: the near-dup stage inherits
    minhash's capped-bucket candidate bound on the (already gated and
    exact-deduped) corpus; the contamination join is keyed on the
    gram with the benchmark side small-by-construction."""
    from ..llm.minhash import minhash_near_dups, shingles

    doc = t(spark, d, "documents")
    sized = doc.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(F.split(F.lower("text"), " ")).alias("n_words"),
    )
    gated = sized.filter(
        (F.col("lang") == "en") & F.col("n_words").between(20, 70)
    )
    # exact dedup as a combinable aggregate, so rows combine before
    # they shuffle: min(struct(doc_id, ...)) keeps exactly the
    # row_number()=1 row (doc_id leads the struct, so lexicographic
    # min ≡ ORDER BY doc_id; n_words/source ride along from the
    # winning row — n_words is text-derived and identical across dups
    # anyway). Unlike the former text-keyed
    # window, this gets MAP-SIDE partial aggregation, so duplicate
    # rows collapse before the exchange instead of all shipping to
    # one partition per text.
    exact = (
        gated.groupBy("text")
        .agg(F.min(F.struct("doc_id", "n_words", "source")).alias("_r"))
        .select(
            F.col("_r.doc_id").alias("doc_id"),
            "text",
            F.col("_r.n_words").alias("n_words"),
            F.col("_r.source").alias("source"),
        )
    )
    # Evaluate the dedup subtree ONCE: without a materialization the
    # plan re-ran the groupBy(text) aggregation once per downstream
    # reference — 8 evaluations (32 min(struct) nodes, 0
    # ReusedExchange) — and the op regressed 2.98→5.23 s at local[32]
    # while running FASTER on 8 cores (eight concurrent full-text hash-aggregation maps are
    # exactly the memory/GC shape that worsens with parallelism).
    # localCheckpoint(eager=False) truncates the lineage so every
    # branch reads the one materialized corpus instead of rebuilding
    # it; lazy, so nothing runs until the query's own action. A plain
    # cache() was re-tested and is still slower (2.40 vs 1.75 s
    # bench-protocol median at sf0.1 — columnar write overhead), and
    # the window-dedup revert (1.90 s) loses map-side partial
    # aggregation at scale. The fault-tolerance trade: a lost executor
    # forfeits checkpoint blocks — acceptable for an in-query
    # intermediate that production would sink to parquet.
    corpus = exact.filter(F.col("source") != "src0").localCheckpoint(
        eager=False
    )
    # checkpoint=False: with the corpus materialized once above, the
    # shingle relation feeds the signature and verify passes from the
    # checkpoint blocks; an extra cache() boundary on the exploded
    # shingles measured SLOWER (2.50 vs 1.75 s — eager columnar write
    # of the wide explode beats its saved recompute at every tested SF)
    nd_pairs = minhash_near_dups(
        corpus, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5,
        checkpoint=False,
    )
    nd_drop = nd_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = corpus.join(nd_drop, "doc_id", "left_anti")
    # contamination is screened on the CORPUS, not on survivors, so
    # the survivors relation has fewer references: a doc's
    # contamination verdict depends only on its own 5-grams, so
    # screening the superset is set-identical after the final
    # anti-join — and `survivors` (which re-evaluates the whole
    # minhash candidate+verify pipeline per reference) is consumed
    # exactly once instead of twice. Measured 2.95 → 1.96 s at sf0.1
    # (with the checkpoint above: 1.75 s; outputs hash-identical).
    g5c = shingles(corpus, "doc_id", "text", k=5).dropDuplicates(
        ["doc_id", "shingle"]
    )
    g5b = (
        shingles(doc.filter(F.col("source") == "src0"), "doc_id", "text", k=5)
        .dropDuplicates(["doc_id", "shingle"])
        .select(F.col("doc_id").alias("bench_id"), "shingle")
    )
    contam = (
        g5c.join(g5b, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
        .distinct()
    )
    return survivors.join(contam, "doc_id", "left_anti").select(
        "doc_id", "n_words", _split_label(F.col("doc_id")).alias("split")
    )


@op(
    "graph_label_propagation",
    """WITH nodes AS (SELECT c_custkey AS id FROM customer),
n AS (SELECT COUNT(*) AS cnt FROM nodes),
edges0 AS (SELECT id AS src, ((id % (SELECT cnt FROM n) * 7 + k * 13) % (SELECT cnt FROM n)) + 1 AS dst
           FROM nodes CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) u),
e0 AS (SELECT src, dst FROM edges0 JOIN nodes ON dst = id WHERE src <> dst),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
l0 AS (SELECT id, id % 10 AS lbl FROM nodes),
c1 AS (SELECT e.dst AS id, l0.lbl AS lbl, COUNT(*) AS c
       FROM e JOIN l0 ON l0.id = e.src GROUP BY 1, 2),
b1 AS (SELECT id, lbl,
              ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
       FROM c1),
l1 AS (SELECT nodes.id, COALESCE(w.lbl, l0.lbl) AS lbl
       FROM nodes JOIN l0 ON l0.id = nodes.id
       LEFT JOIN (SELECT id, lbl FROM b1 WHERE rn = 1) w ON w.id = nodes.id),
c2 AS (SELECT e.dst AS id, l1.lbl AS lbl, COUNT(*) AS c
       FROM e JOIN l1 ON l1.id = e.src GROUP BY 1, 2),
b2 AS (SELECT id, lbl,
              ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
       FROM c2),
l2 AS (SELECT nodes.id, COALESCE(w.lbl, l1.lbl) AS lbl
       FROM nodes JOIN l1 ON l1.id = nodes.id
       LEFT JOIN (SELECT id, lbl FROM b2 WHERE rn = 1) w ON w.id = nodes.id)
SELECT id AS c_custkey, CAST(lbl AS BIGINT) AS community FROM l2""",
)
def graph_label_propagation(spark: SparkSession, d: str) -> DataFrame:
    """Label propagation (2 synchronous supersteps) over the same
    deterministic 3-out graph as graph_pagerank, undirected [EXT:
    community detection — iterative-algorithm exemplar #3 beside
    connected components and PageRank]. Init label = id % 10; each
    superstep every node adopts its neighbors' modal label (tie →
    smallest label; isolated nodes keep theirs). The update is a
    (node, label) counted aggregation + per-node window argmax — both
    deterministic integers, so the unrolled SQL oracle replays the
    fixpoint exactly. Per superstep: one keyed shuffle for the count,
    one for the argmax window, one node-keyed join — linear in edges
    at any scale (checkpoint per superstep at high iteration counts,
    as llm/components.py does)."""
    cust = t(spark, d, "customer")
    nodes = cust.select(F.col("c_custkey").alias("id"))
    cnt = nodes.agg(F.count(F.lit(1)).alias("cnt"))
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    edges0 = (
        nodes.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(cnt))
        .select(
            F.col("id").alias("src"),
            ((F.col("id") % F.col("cnt") * 7 + F.col("k") * 13) % F.col("cnt") + 1).alias("dst"),
        )
    )
    e0 = (
        edges0.join(nodes.select(F.col("id").alias("dst")), "dst")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    e = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()

    def superstep(lbls: DataFrame) -> DataFrame:
        c = (
            e.join(lbls.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("id").orderBy(F.col("c").desc(), "lbl")
        win = (
            c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("lbl").alias("new_lbl"))
        )
        return (
            nodes.join(lbls, "id")
            .join(win, "id", "left")
            .select("id", F.coalesce("new_lbl", "lbl").alias("lbl"))
        )

    l0 = nodes.select("id", (F.col("id") % 10).alias("lbl"))
    l2 = superstep(superstep(l0))
    return l2.select(
        F.col("id").alias("c_custkey"), F.col("lbl").cast("bigint").alias("community")
    )


_MM_E2E_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("dst_w", IntegerType()),
        StructField("dst_h", IntegerType()),
        StructField("resized_sha", StringType()),
    ]
)


@op(
    "pipeline_multimodal_e2e",
    """WITH h AS (SELECT doc_id, sha256(text) AS content_sha,
                    strlen(text) AS n_bytes
             FROM documents),
       kept AS (SELECT doc_id, n_bytes FROM (
           SELECT doc_id, n_bytes,
                  ROW_NUMBER() OVER (PARTITION BY content_sha
                                     ORDER BY doc_id) AS rn
           FROM h) WHERE rn = 1),
       g AS (SELECT doc_id, n_bytes,
                    n_bytes % 256 + 1 AS src_w,
                    (n_bytes // 256) % 256 + 1 AS src_h
             FROM kept),
       r AS (SELECT doc_id, n_bytes,
                    CASE WHEN src_w >= src_h THEN 64
                         ELSE CAST(src_w * 64 // src_h AS INTEGER) END AS dst_w,
                    CASE WHEN src_w >= src_h
                         THEN CAST(src_h * 64 // src_w AS INTEGER)
                         ELSE 64 END AS dst_h
             FROM g)
       SELECT r.doc_id, r.n_bytes, r.dst_w, r.dst_h,
              sha256(CAST(r.doc_id AS VARCHAR) || 'x' ||
                     CAST(r.dst_w AS VARCHAR) || 'x' ||
                     CAST(r.dst_h AS VARCHAR)) AS resized_sha,
              e.label
       FROM r JOIN embeddings e ON e.vec_id = r.doc_id""",
)
def pipeline_multimodal_e2e(spark: SparkSession, d: str) -> DataFrame:
    """The multimodal ingest composition in one dataflow [EXT: what an
    image/audio corpus build actually runs]: content-addressable exact
    dedup of the opaque binary payloads (digest where the bytes live,
    keep lowest id) → Arrow-batched decode/resize over the survivors
    only (mapInPandas; deterministic fake decode — geometry from byte
    length — with every real engine surface: binary in, partition-
    parallel Python, typed Arrow batches out) → equi-join to the
    vector-side metadata (label). Deduping BEFORE the Python stage is
    the load-bearing order at 100 TB: the expensive per-blob work runs
    once per distinct payload, and only (id, digest, length) ever
    shuffles — never the blob."""
    doc = t(spark, d, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    w = Window.partitionBy("content_sha").orderBy("doc_id")
    kept = (
        doc.select("doc_id", "content", F.sha2("content", 256).alias("content_sha"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content")
    )
    feats = _fake_resize(kept, _MM_E2E_SCHEMA)
    emb = t(spark, d, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return feats.join(emb, "doc_id")


# --------------------------------------------------------------------------
# Corpus-signal ops: substring-window dedup signal, per-doc keyword
# extraction, snapshot novelty, perceptual-hash multimodal near-dup,
# cross-source near-dup matrix, Gopher-style composite quality filter.
# --------------------------------------------------------------------------

# Exact-substring duplication signal (the Lee et al. 2021 "Deduplicating
# Training Data Makes Language Models Better" shape): overlapping
# 10-token windows at stride 5, a window is boilerplate when it occurs
# in >= 2 distinct docs. Both engines hash the joined window text with
# md5 (the cross-engine hash, cf. llm/simhash.py) so the shuffle rows
# carry a 60-bit key, never the window text.
_SUBSTR_W = 10
_SUBSTR_S = 5

_SUBSTR_SQL = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
win AS (SELECT doc_id,
               CAST(concat('0x', substr(md5(
                 array_to_string(words[i:i+{_SUBSTR_W - 1}], ' ')), 1, 15))
                 AS BIGINT) AS wh
        FROM (SELECT doc_id, words,
                     unnest(generate_series(
                       1, greatest(len(words) - {_SUBSTR_W - 1}, 1),
                       {_SUBSTR_S})) AS i
              FROM w)),
dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2),
j AS (SELECT win.doc_id, win.wh,
             CASE WHEN dup.wh IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM win LEFT JOIN dup ON win.wh = dup.wh)
SELECT doc_id, COUNT(*) AS n_windows,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_windows,
       {sql_dround('SUM(is_dup) / CAST(COUNT(*) AS DOUBLE)', 6)} AS dup_frac
FROM j GROUP BY doc_id
"""


@op("dedup_substring_windows", _SUBSTR_SQL)
def dedup_substring_windows(spark: SparkSession, d: str) -> DataFrame:
    """Per-doc exact-substring duplication fraction: overlapping
    10-token windows (stride 5) hashed to 60 bits; a window is
    duplicated when >= 2 distinct docs contain it; dup_frac = share of
    a doc's windows that are duplicated [EXT: exact-substring dedup
    signal, Lee et al. 2021 style]. Scale shape: explode ~len/stride
    windows per doc -> one combinable groupBy on the 60-bit hash ->
    min/max-window dup mark in place -> per-doc agg. No quadratic stage; the
    60-bit key keeps shuffle rows fixed-width (text never ships)."""
    doc = t(spark, d, "documents")
    wd = doc.select("doc_id", F.split(F.lower("text"), " ").alias("words"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("words") - F.lit(_SUBSTR_W - 1), F.lit(1)),
        F.lit(_SUBSTR_S),
    )
    win = wd.select(
        "doc_id",
        F.explode(starts).alias("i"),
        "words",
    ).select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice("words", F.col("i"), _SUBSTR_W))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("wh"),
    )
    # ONE pass over the window relation: ">= 2 distinct docs share
    # this hash" ≡ min(doc_id) ≠ max(doc_id) within the wh partition — two O(1)-state window
    # aggregates over a single wh-keyed exchange. The former
    # groupBy(wh)+countDistinct+join-back form evaluated the whole
    # explode+md5 window relation TWICE (once per branch) and paid two
    # wh-keyed exchanges plus the join (measured 1.26 → 0.64 s at
    # sf0.1, outputs identical). Per-wh state here is two longs —
    # strictly lighter than the former per-wh countDistinct buffer,
    # so a boilerplate hash shared by millions of docs costs no more
    # than it already did.
    wb = Window.partitionBy("wh")
    j = win.withColumn(
        "is_dup",
        F.when(
            F.min("doc_id").over(wb) != F.max("doc_id").over(wb), 1
        ).otherwise(0),
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("is_dup").alias("n_dup_windows"),
        dround(
            F.sum("is_dup") / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_frac"),
    )


_KEYWORD_SQL = f"""
WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
           FROM documents),
tf AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY doc_id, word),
dl AS (SELECT doc_id, COUNT(*) AS doclen FROM w GROUP BY doc_id),
dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS dfn FROM w GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (SELECT tf.doc_id, tf.word,
                  {sql_dround('(tf.cnt / dl.doclen) * ln(CAST(n.n_docs AS DOUBLE) / dfreq.dfn)', 6)}
                    AS tfidf
           FROM tf, n
           JOIN dl ON tf.doc_id = dl.doc_id
           JOIN dfreq ON tf.word = dfreq.word),
r AS (SELECT doc_id, word, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, word) AS rnk
      FROM scored)
SELECT doc_id, word, tfidf, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
"""


@op("text_keyword_topk", _KEYWORD_SQL)
def text_keyword_topk(spark: SparkSession, d: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document [EXT: per-doc keyword
    extraction for corpus tagging/routing]: text_tfidf's scores, ranked
    per doc. Ranking runs on the 6-dp-rounded score (the
    cross-engine-stable value) with the word as total-order tiebreak. Scale: the per-doc window partitions on
    doc_id — no global sort; the doc-frequency relation is unhinted
    (10^8+ distinct tokens at corpus scale must not broadcast)."""
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word")
    )
    return (
        text_tfidf(spark, d).withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


# Short-doc guard: grams exist only for docs with >= 3 words. Spark's
# shingles() emits no gram for a doc under k words, and the
# `words[i] || ' ' || ...` oracle convention yields NULL (unjoinable);
# both engines also filter size(words) >= 3 up front, so the short-doc
# edge is explicit in the op and its oracle rather than left to the two
# gram builders — the convention for the whole gram family.
# Tokenization convention: single-space word boundaries (the documents fixture is single-space-delimited;
# shingles() splits \\s+, the oracles split ' ' — equivalent on this
# corpus, and the guard makes the short-doc edge explicit rather than
# fixture-dependent).
_NOVELTY_SQL = f"""
WITH w AS (SELECT doc_id, source,
                  CAST(substr(source, 4) AS INT) AS src_num,
                  string_split(lower(text), ' ') AS words
           FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 3),
g AS (SELECT DISTINCT src_num,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
      FROM (SELECT src_num, words,
                   unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
            FROM w)),
firstseen AS (SELECT gram, MIN(src_num) AS first_src FROM g GROUP BY gram)
SELECT g.src_num AS src_num,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_src = g.src_num THEN 1 ELSE 0 END)
         AS BIGINT) AS n_novel,
       {sql_dround('SUM(CASE WHEN f.first_src = g.src_num THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)', 6)}
         AS novelty_frac
FROM g JOIN firstseen f ON f.gram = g.gram
GROUP BY g.src_num
"""


@op("text_snapshot_novelty", _NOVELTY_SQL)
def text_snapshot_novelty(spark: SparkSession, d: str) -> DataFrame:
    """Per-snapshot novelty: treating sources src0..srcN as ordered
    crawl snapshots, the share of a snapshot's distinct 3-grams first
    seen in that snapshot [EXT: cross-snapshot dedup planning — how
    much of each new crawl is genuinely new text]. The snapshot index
    is parsed numerically (src10 > src2 — lexicographic order is a
    trap the fixture exercises). Scale shape: distinct (snapshot,
    gram) -> min-by-gram (combinable) -> gram-keyed join back; no
    pairwise snapshot comparison (N snapshots would be N^2 pairs).
    Docs under 3 words carry no 3-gram — filtered in BOTH engines (see
    the short-doc guard note above _NOVELTY_SQL)."""
    doc = t(spark, d, "documents").filter(
        F.size(F.split(F.lower("text"), " ")) >= 3
    )
    src_num = F.substring("source", 4, 10).cast("int").alias("src_num")
    g = (
        shingles(doc, "doc_id", "text", k=3)
        .join(doc.select("doc_id", src_num), "doc_id")
        .select("src_num", "shingle")
        .distinct()
    )
    firstseen = g.groupBy("shingle").agg(F.min("src_num").alias("first_src"))
    novel = F.when(F.col("first_src") == F.col("src_num"), 1).otherwise(0)
    return (
        g.join(firstseen, "shingle")
        .groupBy("src_num")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            dround(F.sum(novel) / F.count(F.lit(1)).cast("double"), 6).alias(
                "novelty_frac"
            ),
        )
    )


# Perceptual-hash near-dup over opaque binary payloads. The "decode +
# pHash" step is the deterministic stand-in this container allows
# (image libs absent offline): a 60-bit hash of the payload bytes,
# computed in a REAL Arrow-batched pandas UDF — the Spark plumbing
# (binary column in, fixed-width fingerprint out, slice-blocked
# Hamming join) is the production surface; swapping in a true DCT
# pHash changes one lambda. md5 is the cross-engine hash, so the
# oracle replays payload-hash, slicing, occupancy cap, and the
# Hamming cut exactly (same mirror design as dedup_simhash).
_PHASH_SQL = """
WITH corpus AS (SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text
                FROM documents WHERE doc_id % 10 = 0),
fp AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS phash
       FROM corpus),
slices AS (SELECT doc_id, phash, chunk_idx,
                  ((phash >> (chunk_idx * 15)) & 32767) AS chunk
           FROM fp, (SELECT unnest(range(4)) AS chunk_idx)),
capped AS (SELECT doc_id, phash, chunk_idx, chunk
           FROM (SELECT *, COUNT(*) OVER (PARTITION BY chunk_idx, chunk) AS bn
                 FROM slices)
           WHERE bn <= 200)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM capped a
JOIN capped b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
"""


@op("multimodal_phash_neardup", _PHASH_SQL)
def multimodal_phash_neardup(spark: SparkSession, d: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over an opaque BINARY column
    [EXT: image near-dedup — the step after multimodal_dedup_sha's
    exact pass]: per-blob 60-bit fingerprint from an Arrow-batched
    pandas UDF (the decode+pHash stand-in — deterministic md5 of the
    payload so the DuckDB oracle replays it), then the simhash slice
    scaffold: 4x15-bit slices, occupancy cap 200, Hamming <= 6 pairs.
    The corpus is documents ∪ a re-crawled 10% slice (the fixture has
    no exact blob dups), so true pairs sit at Hamming 0. Scale: the
    UDF maps partition-wise over Arrow batches (payload never
    shuffles); the pair join ships only (id, 60-bit fp, slice)."""
    from ..llm.simhash import fingerprint_pairs
    from ._util import _ensure_pkg_on_executors

    _ensure_pkg_on_executors(spark)
    corpus = _recrawled(spark, d, "text").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )

    @F.pandas_udf(LongType())
    def phash(content: pd.Series) -> pd.Series:
        # decode-and-hash stand-in: real pHash = decode -> grayscale ->
        # DCT -> sign bits; offline stand-in = first 60 bits of md5 of
        # the raw payload (deterministic, oracle-replayable)
        return content.map(
            lambda b: int(hashlib.md5(bytes(b)).hexdigest()[:15], 16)
        )

    fp = corpus.select("doc_id", phash("content").alias("simhash"))
    return fingerprint_pairs(fp, "doc_id", 6).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


_XSOURCE_SQL = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
g AS (SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
      FROM (SELECT doc_id, words,
                   unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
            FROM w)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
pairs AS (SELECT doc_a, doc_b,
                 n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN sz sa ON sa.doc_id = doc_a
          JOIN sz sb ON sb.doc_id = doc_b
          WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.5),
srcd AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS src_num FROM documents)
SELECT LEAST(xa.src_num, xb.src_num) AS src_lo,
       GREATEST(xa.src_num, xb.src_num) AS src_hi,
       COUNT(*) AS n_pairs,
       {sql_davg('jaccard', 'avg_jaccard')}
FROM pairs
JOIN srcd xa ON xa.doc_id = pairs.doc_a
JOIN srcd xb ON xb.doc_id = pairs.doc_b
GROUP BY 1, 2
"""


@op("dedup_cross_source_matrix", _XSOURCE_SQL)
def dedup_cross_source_matrix(spark: SparkSession, d: str) -> DataFrame:
    """Near-dup overlap matrix by source pair [EXT: which crawl
    snapshots/feeds duplicate each other — the planning input for
    source-level dedup ordering]: verified MinHash near-dup pairs
    (Jaccard >= 0.5, same generator as dedup_minhash_lsh) aggregated
    to (source_lo, source_hi) with pair counts and exact-decimal mean
    Jaccard. Source index parsed numerically; pair normalized by
    LEAST/GREATEST so the matrix is upper-triangular. Scale: adds two
    id-keyed joins against a 2-column source map + one combinable
    groupBy on top of the bounded LSH pipeline."""
    doc = t(spark, d, "documents")
    pairs = minhash_near_dups(
        doc, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
    )
    srcd = doc.select(
        "doc_id", F.substring("source", 4, 10).cast("int").alias("src_num")
    )
    xa = srcd.select(F.col("doc_id").alias("doc_a"), F.col("src_num").alias("sa"))
    xb = srcd.select(F.col("doc_id").alias("doc_b"), F.col("src_num").alias("sb"))
    return (
        pairs.join(xa, "doc_a")
        .join(xb, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("src_lo"),
            F.greatest("sa", "sb").alias("src_hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            davg("jaccard", "avg_jaccard"),
        )
    )


# Gopher-style composite quality rules (Rae et al. 2021 shape): each
# rule named, each failure recorded; thresholds calibrated so the
# fixture exercises both branches of every rule (word count 10-99,
# mean word length 3.9-5.4, max-token ratio .05-.30, stopword count
# 0+). concat_ws skips NULLs in BOTH engines, so failed_rules is a
# stable comma-joined string without array-hash concerns.
_GOPHER_SQL = """
WITH w AS (SELECT doc_id, word, COUNT(*) AS cnt
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                 FROM documents)
           GROUP BY doc_id, word),
m AS (SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_words,
             SUM(length(word) * cnt) / CAST(SUM(cnt) AS DOUBLE) AS mean_word_len,
             MAX(cnt) / CAST(SUM(cnt) AS DOUBLE) AS max_token_ratio,
             SUM(CASE WHEN word IN ('the','a','of','to','and','in')
                      THEN cnt ELSE 0 END) AS n_stopwords
      FROM w GROUP BY doc_id)
SELECT doc_id, n_words,
       concat_ws(',',
         CASE WHEN n_words < 25 OR n_words > 80 THEN 'word_count' END,
         CASE WHEN mean_word_len < 4.2 OR mean_word_len > 5.2
              THEN 'mean_word_length' END,
         CASE WHEN max_token_ratio > 0.125 THEN 'repetition' END,
         CASE WHEN n_stopwords < 2 THEN 'stopwords' END) AS failed_rules,
       (n_words BETWEEN 25 AND 80)
         AND mean_word_len BETWEEN 4.2 AND 5.2
         AND max_token_ratio <= 0.125
         AND n_stopwords >= 2 AS passes
FROM m
"""


@op("text_quality_gopher", _GOPHER_SQL)
def text_quality_gopher(spark: SparkSession, d: str) -> DataFrame:
    """Gopher-style composite quality filter [EXT: named-rule corpus
    gating — word-count bounds, mean word length band, max-token
    repetition ratio, stopword floor] returning per-doc pass/fail plus
    the comma-joined list of failed rules (concat_ws skips NULLs
    identically in both engines). All four signals come out of ONE
    (doc, word) aggregation — integer sums, so the derived doubles are
    bit-identical across engines and partitionings; one combinable
    shuffle at any corpus size."""
    doc = t(spark, d, "documents")
    w = (
        doc.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = w.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        (
            F.sum(F.length("word") * F.col("cnt"))
            / F.sum("cnt").cast("double")
        ).alias("mean_word_len"),
        (F.max("cnt") / F.sum("cnt").cast("double")).alias("max_token_ratio"),
        F.sum(
            F.when(
                F.col("word").isin("the", "a", "of", "to", "and", "in"),
                F.col("cnt"),
            ).otherwise(0)
        ).alias("n_stopwords"),
    )
    fail = lambda cond, name: F.when(cond, F.lit(name))  # noqa: E731
    return m.select(
        "doc_id",
        "n_words",
        F.concat_ws(
            ",",
            fail(
                (F.col("n_words") < 25) | (F.col("n_words") > 80), "word_count"
            ),
            fail(
                (F.col("mean_word_len") < 4.2) | (F.col("mean_word_len") > 5.2),
                "mean_word_length",
            ),
            fail(F.col("max_token_ratio") > 0.125, "repetition"),
            fail(F.col("n_stopwords") < 2, "stopwords"),
        ).alias("failed_rules"),
        (
            F.col("n_words").between(25, 80)
            & F.col("mean_word_len").between(4.2, 5.2)
            & (F.col("max_token_ratio") <= 0.125)
            & (F.col("n_stopwords") >= 2)
        ).alias("passes"),
    )


_CHUNK_C = 32  # chunk size (tokens)
_CHUNK_O = 8   # overlap (tokens); stride = C - O

_CHUNK_SQL = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
starts AS (SELECT doc_id, words, i,
                  CAST((i - 1) // {_CHUNK_C - _CHUNK_O} AS INT) AS chunk_idx
           FROM (SELECT doc_id, words,
                        unnest(generate_series(
                          1, greatest(len(words) - {_CHUNK_O}, 1),
                          {_CHUNK_C - _CHUNK_O})) AS i
                 FROM w))
SELECT doc_id, chunk_idx,
       CAST(len(words[i:i+{_CHUNK_C - 1}]) AS INT) AS n_tokens,
       array_to_string(words[i:i+{_CHUNK_C - 1}], ' ') AS chunk_text
FROM starts
"""


@op("text_chunk_overlap", _CHUNK_SQL)
def text_chunk_overlap(spark: SparkSession, d: str) -> DataFrame:
    """Document chunking for embedding/context windows [EXT: the
    pre-embedding step of every RAG/similarity pipeline]: 32-token
    chunks at stride 24 (8-token overlap), last chunk clipped; chunks
    starting past len-overlap are suppressed (they'd be pure overlap).
    Purely map-side — split, sequence, explode, slice; no shuffle at
    all, so it scales with input bytes. The chunk grid is arithmetic
    on the start offset, identical in both engines."""
    doc = t(spark, d, "documents")
    stride = _CHUNK_C - _CHUNK_O
    wd = doc.select("doc_id", F.split(F.lower("text"), " ").alias("words"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("words") - F.lit(_CHUNK_O), F.lit(1)),
        F.lit(stride),
    )
    return (
        wd.select("doc_id", "words", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            ((F.col("i") - 1) / stride).cast("int").alias("chunk_idx"),
            F.size(F.slice("words", F.col("i"), _CHUNK_C)).alias("n_tokens"),
            F.concat_ws(" ", F.slice("words", F.col("i"), _CHUNK_C)).alias(
                "chunk_text"
            ),
        )
    )


_PPL_BUCKET_SQL = f"""
WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
           FROM documents),
n AS (SELECT COUNT(*) AS total FROM w),
cnt AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
nll AS (SELECT w.doc_id,
               {sql_davg('-ln(cnt.c / CAST(n.total AS DOUBLE))', 'avg_nll')}
        FROM w JOIN cnt ON w.word = cnt.word CROSS JOIN n
        GROUP BY w.doc_id),
lx AS (SELECT nll.doc_id, d.lang, nll.avg_nll,
              NTILE(3) OVER (PARTITION BY d.lang
                             ORDER BY nll.avg_nll, nll.doc_id) AS tert
       FROM nll JOIN documents d ON d.doc_id = nll.doc_id)
SELECT doc_id, lang, avg_nll,
       CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket
FROM lx
"""


@op("text_perplexity_bucket", _PPL_BUCKET_SQL)
def text_perplexity_bucket(spark: SparkSession, d: str) -> DataFrame:
    """CCNet-style perplexity bucketing [EXT: Wenzek et al. 2020 —
    split each language's docs into head/middle/tail by LM perplexity;
    head ~ clean text, tail ~ noise]: text_unigram_logprob's per-doc
    mean unigram NLL (the offline LM stand-in), then NTILE(3) within
    language ordered by (avg_nll, doc_id) — the id tiebreak keeps the
    tertile assignment total-ordered and deterministic at any
    parallelism. The NLL is an exact-decimal mean, so ordering is
    cross-engine stable. Scale: two combinable
    aggs + an unhinted vocab join (AQE decides), one per-lang window."""
    doc = t(spark, d, "documents")
    nll = text_unigram_logprob(spark, d)
    lx = nll.join(doc.select("doc_id", "lang"), "doc_id")
    win = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    tert = F.ntile(3).over(win)
    return lx.select(
        "doc_id",
        "lang",
        "avg_nll",
        F.when(tert == 1, "head")
        .when(tert == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


_COV_SQL = """
WITH x AS (SELECT vec_id, i,
                  CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS vq
           FROM embeddings, (SELECT unnest(range(64)) AS i)),
p AS (SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(a.vq * b.vq AS DECIMAL(38,0))) AS DOUBLE) AS s_xy,
             COUNT(*) AS n
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i),
m AS (SELECT i, CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE) AS s_x FROM x
      GROUP BY i)
SELECT p.i AS dim_i, p.j AS dim_j, p.n AS n,
       CAST(ROUND(CAST((s_xy / n - (mi.s_x / n) * (mj.s_x / n)) / 1000000000000
                       AS DECIMAL(25,6)), 6) AS DOUBLE) AS cov
FROM p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j
"""


@op("vec_covariance_matrix", _COV_SQL)
def vec_covariance_matrix(spark: SparkSession, d: str) -> DataFrame:
    """Distributed covariance matrix of the 64-dim embedding corpus
    [EXT: the input to offline PCA/whitening — the eigendecomposition
    of a 64x64 matrix is a driver-side afterthought; the DISTRIBUTED
    work is these exact sums]. Components quantized to integer
    micro-units (floor(v*1e6) — cross-engine exact; the 6-dp grid is
    the op's specified precision, the rp-LSH/k-means discipline), all
    sums exact DECIMAL(38,0) integer sums (overflow-safe past 1e9
    vectors, order-independent at any parallelism), covariance
    assembled in double at the end. Scale shape: the pair products are
    generated MAP-SIDE (each row explodes its own 64x64 upper
    triangle) and partial-aggregated before the only shuffle —
    groupBy(i, j) with exactly 2080 groups, so shuffle volume is
    O(partitions x 2080), independent of corpus size."""
    # spread_scan: the 2080-term pair explosion + partial aggregation
    # is map work over a one-task fixture scan (1.47 → 1.21 s at
    # sf0.1); no-op on well-split inputs
    emb = spread_scan(t(spark, d, "embeddings"), "vec_id")
    # quantize ONCE per row, not once per pair term: the integer
    # micro-unit array is computed 64 floors/row up front and
    # both expansions read it — the former form re-applied floor()
    # inside the pair explosion (64×65 = 4160 floors per row) and
    # generated the full 64×64 grid only to drop the strict lower
    # triangle (4096 rows generated, 2080 kept). Slicing the tail of
    # the quantized array at each i generates exactly the 2080 upper-
    # triangle rows map-side. Same exact integers, same groups.
    eq = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
    )
    base = emb.select("vec_id", eq.alias("eq"))
    x = base.select("vec_id", F.posexplode("eq").alias("i", "vq"))
    # second map-side expansion: pair every (i, vqi) with the row's own
    # quantized tail — no self-join, no vec_id shuffle
    xi = base.select("vec_id", F.col("eq"), F.posexplode("eq").alias("i", "vqi"))
    pairs = xi.select(
        "i",
        "vqi",
        F.posexplode(
            F.slice(F.col("eq"), F.col("i") + 1, F.size("eq"))
        ).alias("dj", "vj"),
    ).select(
        "i",
        (F.col("i") + F.col("dj")).alias("j"),
        (F.col("vqi") * F.col("vj")).alias("term"),
    )
    p = pairs.groupBy("i", "j").agg(
        F.sum(F.col("term").cast("decimal(38,0)")).cast("double").alias("s_xy"),
        F.count(F.lit(1)).alias("n"),
    )
    m = x.groupBy("i").agg(
        F.sum(F.col("vq").cast("decimal(38,0)")).cast("double").alias("s_x")
    )
    mi = m.select(F.col("i").alias("_mi"), F.col("s_x").alias("sx_i"))
    mj = m.select(F.col("i").alias("_mj"), F.col("s_x").alias("sx_j"))
    cov = (
        F.col("s_xy") / F.col("n")
        - (F.col("sx_i") / F.col("n")) * (F.col("sx_j") / F.col("n"))
    ) / F.lit(1e12)
    return (
        p.join(F.broadcast(mi), p["i"] == mi["_mi"])
        .join(F.broadcast(mj), p["j"] == mj["_mj"])
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            "n",
            dround(cov, 6).alias("cov"),
        )
    )


_RAG_SQL = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
chunks AS (SELECT doc_id,
                  CAST((i - 1) // {_CHUNK_C - _CHUNK_O} AS INT) AS chunk_idx,
                  array_to_string(words[i:i+{_CHUNK_C - 1}], ' ') AS chunk_text
           FROM (SELECT doc_id, words,
                        unnest(generate_series(
                          1, greatest(len(words) - {_CHUNK_O}, 1),
                          {_CHUNK_C - _CHUNK_O})) AS i
                 FROM w)),
scored AS (SELECT c.doc_id, c.chunk_idx, c.chunk_text,
                  CAST(ROUND(CAST({_sql_cos('e.embedding::DOUBLE[]', _QVEC_SQL)}
                        AS DECIMAL(25,6)), 6) AS DOUBLE)
                    - 0.001 * c.chunk_idx AS score
           FROM chunks c JOIN embeddings e ON e.vec_id = c.doc_id)
SELECT doc_id, chunk_idx, chunk_text,
       {sql_dround('score', 6)} AS score
FROM scored
ORDER BY score DESC, doc_id, chunk_idx LIMIT 5
"""


@op("pipeline_rag_e2e", _RAG_SQL)
def pipeline_rag_e2e(spark: SparkSession, d: str) -> DataFrame:
    """End-to-end retrieval dataflow [EXT: the RAG serving path as one
    plan — chunk, embed-join, score, top-k]: 32-token/8-overlap chunks
    (text_chunk_overlap's map-side grid, called as that op), each
    chunk keyed to its parent doc's embedding (the offline stand-in for a per-chunk
    encoder — the join/rank plumbing is the surface), cosine vs the
    deterministic query vector with a 0.001/chunk position penalty
    (later chunks rank below earlier ones at equal relevance), global
    top-5. Scale: chunking never shuffles; the embedding join is
    doc-keyed; the top-5 is per-partition top-k + single-reducer merge
    (TakeOrderedAndProject), never a global sort."""
    emb = t(spark, d, "embeddings")
    chunks = text_chunk_overlap(spark, d).drop("n_tokens")
    # each doc is scored once, before the join fans it out to its chunks
    q, qn = query(query_vector())
    docs = normed(emb, F.col("vec_id").alias("doc_id")).select(
        "doc_id", dround(score("v", "nrm", q, qn), 6).alias("cos6")
    )
    scored = chunks.join(docs, "doc_id").select(
        "doc_id",
        "chunk_idx",
        "chunk_text",
        (F.col("cos6") - F.lit(0.001) * F.col("chunk_idx")).alias("score"),
    )
    return (
        scored.select(
            "doc_id", "chunk_idx", "chunk_text", dround("score", 6).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id", "chunk_idx")
        .limit(5)
    )


# Synthetic per-doc URLs (the fixture has no URL column): host carries
# a WWW-cased variant, 1-in-4 docs a utm tracking param, 1-in-4 a real
# param, 1-in-5 a fragment — each a canonicalization hazard. The SAME
# expression builds the URL in both engines, so the op under test is
# the normalization chain, not the synthesis.
_URL_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
           || source || '.example.com/page/'
           || CAST(doc_id % 50 AS VARCHAR)
           || (CASE WHEN doc_id % 4 = 0
                    THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
                    WHEN doc_id % 4 = 1
                    THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
                    ELSE '' END)
           || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents),
c AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '(?s)#.*', '', 'g'),
               'utm_[a-z]+=[^&#]*&', '', 'g'),
             '[?&]utm_[a-z]+=[^&#]*$', '', 'g'),
           '://www\\.', '://', 'g') AS canonical_url
  FROM u)
SELECT canonical_url, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM c GROUP BY canonical_url HAVING COUNT(*) > 1
"""


def canonicalize_url(url: Column) -> Column:
    """Expression-only URL canonicalizer: lowercase, strip fragment,
    strip utm_* tracking params (preserving real params), fold www.
    Property-tested over randomized decorations in
    tests/test_properties.py; the SQL oracle mirrors the chain.

    Regex-anchor contract (both engines' regex dialects probed): the
    fragment strip is '(?s)#.*' — dotall, unanchored. Unanchored because with a '$'
    the engines diverge on any url containing a newline (Java's $
    matches before a final terminator, RE2's does not); DOTALL because
    the engines' plain '.' classes differ too — Java's '.' excludes
    \\r, U+0085, U+2028, U+2029 while RE2's excludes only \\n — so a
    bare '#.*' leaves a '<CR>tail' behind in Spark that DuckDB strips.
    (?s) is supported and identical in both engines: '.' matches every
    character, so the strip runs to true end-of-text. The utm tail
    strip KEEPS its '$': its [^&#]* class consumes newlines and
    terminators, so both engines reach true end-of-text and agree
    (probed with literal '\\n' tails)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "(?s)#.*", ""),
                "utm_[a-z]+=[^&#]*&",
                "",
            ),
            r"[?&]utm_[a-z]+=[^&#]*$",
            "",
        ),
        r"://www\.",
        "://",
    )


@op("dedup_url_canonical", _URL_SQL)
def dedup_url_canonical(spark: SparkSession, d: str) -> DataFrame:
    """URL-canonical dedup [EXT: the first dedup pass of every web
    crawl — the same page re-crawled under case/tracking/fragment
    variants]: lowercase, strip fragment, strip utm_* tracking params
    (preserving real params), fold www., then group by canonical URL
    keeping the lowest doc_id. The normalization is a pure expression
    chain (regexp_replace, whole-stage codegen); dedup is one
    combinable groupBy on the canonical key — the exact_hash shape,
    scaling with input bytes. URLs are synthesized deterministically
    from doc attrs (fixture has no URL column) by the SAME expression
    in both engines, so the certified behavior is the normalizer."""
    doc = t(spark, d, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, "WWW.").otherwise(""),
        F.col("source"),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (F.col("doc_id") % 50).cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("?id="), (F.col("doc_id") % 50).cast("string")),
        )
        .otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, "#frag").otherwise(""),
    )
    canon = canonicalize_url(url)
    return (
        doc.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


_CCNET_SQL = f"""
WITH s AS (
  SELECT doc_id, words,
         len(list_filter(words, w -> w = 'the' OR w = 'a')) AS sc_en,
         len(list_filter(words, w -> w = 'der' OR w = 'die')) AS sc_de,
         len(list_filter(words, w -> w = 'le' OR w = 'la')) AS sc_fr,
         len(list_filter(words, w -> w = 'el' OR w = 'los')) AS sc_es
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents)),
langp AS (
  SELECT doc_id, len(words) AS n_tokens,
         CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es AND sc_en > 0
                THEN 'en'
              WHEN sc_de >= sc_fr AND sc_de >= sc_es AND sc_de > 0 THEN 'de'
              WHEN sc_fr >= sc_es AND sc_fr > 0 THEN 'fr'
              WHEN sc_es > 0 THEN 'es'
              ELSE 'unknown' END AS lang_pred
  FROM s),
w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
n AS (SELECT COUNT(*) AS total FROM w),
cnt AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
nll AS (SELECT w.doc_id,
               {sql_davg('-ln(cnt.c / CAST(n.total AS DOUBLE))', 'avg_nll')}
        FROM w JOIN cnt ON w.word = cnt.word CROSS JOIN n
        GROUP BY w.doc_id),
wd AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
win AS (SELECT doc_id,
               CAST(concat('0x', substr(md5(
                 array_to_string(words[i:i+{_SUBSTR_W - 1}], ' ')), 1, 15))
                 AS BIGINT) AS wh
        FROM (SELECT doc_id, words,
                     unnest(generate_series(
                       1, greatest(len(words) - {_SUBSTR_W - 1}, 1),
                       {_SUBSTR_S})) AS i
              FROM wd)),
dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2),
dupfrac AS (
  SELECT win.doc_id,
         SUM(CASE WHEN dup.wh IS NOT NULL THEN 1 ELSE 0 END)
           / CAST(COUNT(*) AS DOUBLE) AS dup_frac
  FROM win LEFT JOIN dup ON win.wh = dup.wh
  GROUP BY win.doc_id),
scored AS (
  SELECT l.doc_id, l.lang_pred, l.n_tokens, d.dup_frac,
         NTILE(3) OVER (PARTITION BY l.lang_pred
                        ORDER BY nll.avg_nll, l.doc_id) AS tert
  FROM langp l
  JOIN nll ON nll.doc_id = l.doc_id
  JOIN dupfrac d ON d.doc_id = l.doc_id)
SELECT lang_pred,
       CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN tert <= 2 AND dup_frac <= 0.5 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN tert <= 2 AND dup_frac <= 0.5 THEN n_tokens
                     ELSE 0 END) AS BIGINT) AS kept_tokens
FROM scored
GROUP BY 1, 2
"""


@op("pipeline_ccnet_e2e", _CCNET_SQL)
def pipeline_ccnet_e2e(spark: SparkSession, d: str) -> DataFrame:
    """CCNet-shaped corpus curation as ONE dataflow [EXT: Wenzek et
    al. 2020 — language-ID, LM-perplexity tertiles per language,
    duplication gate, per-bucket accounting]: predicted language (the
    stopword heuristic, not the metadata column — the pipeline runs on
    raw text), unigram-NLL tertiles within each PREDICTED language,
    and the exact-substring duplication fraction; keep = head/middle
    tertile AND dup_frac <= 0.5; output per (lang, bucket) doc/token
    accounting. Composition of three certified per-doc relations, each
    built by calling its registry op (text_lang_id's prediction,
    text_unigram_logprob's NLL, dedup_substring_windows' dup fraction)
    and joined on doc_id — three combinable agg pipelines + one
    per-lang window; nothing quadratic anywhere."""
    doc = t(spark, d, "documents")
    langp = text_lang_id(spark, d).select("doc_id", "lang_pred")
    ntok = doc.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_tokens")
    )
    nll = text_unigram_logprob(spark, d)
    dupf = dedup_substring_windows(spark, d).select("doc_id", "dup_frac")
    scored = (
        langp.join(nll, "doc_id").join(dupf, "doc_id").join(ntok, "doc_id")
    )
    tert = F.ntile(3).over(
        Window.partitionBy("lang_pred").orderBy("avg_nll", "doc_id")
    )
    scored = scored.withColumn("tert", tert)
    keep = (F.col("tert") <= 2) & (F.col("dup_frac") <= 0.5)
    return scored.groupBy(
        "lang_pred",
        F.when(F.col("tert") == 1, "head")
        .when(F.col("tert") == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )


_EPOCH_SHUFFLE_SQL = """
WITH e AS (SELECT doc_id, epoch
           FROM documents, (SELECT unnest(range(3)) AS epoch)),
k AS (SELECT doc_id, epoch,
             CAST(concat('0x', substr(
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)),
               1, 15)) AS BIGINT) AS shuffle_key
      FROM e)
SELECT doc_id, CAST(epoch AS INT) AS epoch,
       CAST(shuffle_key % 256 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shuffle_key % 256
                               ORDER BY shuffle_key, doc_id) AS BIGINT)
         AS pos_in_shard
FROM k
"""


@op("sample_epoch_shuffle", _EPOCH_SHUFFLE_SQL)
def sample_epoch_shuffle(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic per-epoch training shuffle [EXT: the data-loader
    primitive — every worker must agree on example order without
    coordination]: shuffle key = md5(doc_id:epoch) (cross-engine, so
    the oracle replays it), shard = key % 256, position WITHIN the
    shard. Shard-local positions are the production shape — a global
    contiguous position would be a global sort; per-(epoch, shard)
    row_number is a keyed window whose partitions stay worker-sized at
    any corpus scale. Epoch grid is a bounded 3x broadcast expansion."""
    doc = t(spark, d, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    key = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("epoch").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    k = doc.crossJoin(F.broadcast(epochs)).select(
        "doc_id", "epoch", key.alias("shuffle_key")
    )
    shard = (F.col("shuffle_key") % 256).cast("int")
    w = Window.partitionBy("epoch", shard).orderBy("shuffle_key", "doc_id")
    return k.select(
        "doc_id",
        "epoch",
        shard.alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )


# --------------------------------------------------------------------------
# BM25 retrieval + containment near-dup
# --------------------------------------------------------------------------

_BM25_TERMS = ("vector", "merge", "spark")
_BM25_TERMS_SQL = ", ".join(f"'{t_}'" for t_ in _BM25_TERMS)

_BM25_TFS_SQL = ",\n  ".join(
    f"SUM(CASE WHEN word = '{t_}' THEN 1 ELSE 0 END) AS tf{i}"
    for i, t_ in enumerate(_BM25_TERMS)
)
_BM25_DFS_SQL = ",\n  ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_SCORE_SQL = " + ".join(
    f"""CASE WHEN tf{i} > 0 THEN
       ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))
         * (tf{i} * 2.2)
         / (tf{i} + 1.2 * (0.25 + 0.75 * dl / avgdl))
       ELSE 0.0 END"""
    for i in range(len(_BM25_TERMS))
)

_BM25_SQL = f"""
WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
           FROM documents),
perdoc AS (SELECT doc_id, COUNT(*) AS dl,
  {_BM25_TFS_SQL}
  FROM w GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
  {_BM25_DFS_SQL}
  FROM perdoc),
sc AS (SELECT doc_id, {_BM25_SCORE_SQL} AS s
       FROM perdoc CROSS JOIN stats
       WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))})
SELECT doc_id, CAST(ROUND(CAST(s AS DECIMAL(25,6)), 6) AS DOUBLE) AS score
FROM sc
ORDER BY score DESC, doc_id LIMIT 10
"""


@op("text_bm25_topk", _BM25_SQL)
def text_bm25_topk(spark: SparkSession, d: str) -> DataFrame:
    """BM25 top-10 retrieval (Robertson/Sparck-Jones; k1=1.2, b=0.75)
    for a fixed 3-term query over the corpus [EXT: lexical retrieval —
    the sparse half of every RAG/retrieval stack next to
    pipeline_rag_e2e's dense half].

    ONE pass over the exploded token relation: per-doc length and the
    three per-term frequencies are conditional aggregates of the same
    doc_id-keyed groupBy (map-side combinable — the first draft's
    separate dl/tf/df aggregations scanned the explosion twice), and
    corpus stats (n_docs, avgdl, per-term document frequencies) reduce
    that relation to ONE broadcast row. Scoring is a fixed-order
    three-term expression chain — identical IEEE evaluation order in
    both engines, no shuffle-order surface at all — rounded at 6 dp
    (one ln per term; its ≤1-ulp engine skew cannot reach the 6-dp
    grid except exactly at a midpoint). Final top-10 is TakeOrdered
    (no global sort), ordered by the rounded score with doc_id as
    total-order tiebreak."""
    doc = t(spark, d, "documents")
    w = doc.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    perdoc = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t_, 1).otherwise(0)).alias(f"tf{i}")
            for i, t_ in enumerate(_BM25_TERMS)
        ],
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        s = idf * (F.col(f"tf{i}") * F.lit(2.2)) / (
            F.col(f"tf{i}")
            + F.lit(1.2)
            * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
        )
        return F.when(F.col(f"tf{i}") > 0, s).otherwise(F.lit(0.0))

    score = term_score(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + term_score(i)
    any_hit = F.col("tf0") > 0
    for i in range(1, len(_BM25_TERMS)):
        any_hit = any_hit | (F.col(f"tf{i}") > 0)
    return (
        perdoc.crossJoin(F.broadcast(stats))
        .filter(any_hit)
        .select("doc_id", dround(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


_CONTAIN_SQL = """
WITH w AS (SELECT doc_id, source, string_split(lower(text), ' ') AS words
           FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 3),
g AS (SELECT DISTINCT doc_id, source,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
      FROM (SELECT doc_id, source, words,
                   unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
            FROM w)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM g a JOIN g b ON a.source = b.source AND a.gram = b.gram
                           AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       n_inter / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_inter / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.5
"""


@op("dedup_ngram_containment", _CONTAIN_SQL)
def dedup_ngram_containment(spark: SparkSession, d: str) -> DataFrame:
    """Asymmetric containment near-dup: C = |A∩B| / min(|A|,|B|) over
    distinct 3-gram sets, pairs with C ≥ 0.5 [EXT: catches doc-in-doc
    duplication — a snippet quoted inside a larger page — which
    resemblance (Jaccard) misses because the union denominator drowns
    the small side; Broder's containment vs resemblance distinction].

    Same `source` blocking key as dedup_ngram_jaccard bounds the
    candidate join; the shuffles are the same distinct-shingle and
    (gram, source)-keyed joins, so the 100 TB posture is inherited
    unchanged. Only the denominator (LEAST of the two set sizes) and
    threshold differ — both mirrored exactly in the oracle. Docs under
    3 words carry no 3-gram — filtered in BOTH engines (short-doc
    guard note above _NOVELTY_SQL)."""
    doc = t(spark, d, "documents").filter(
        F.size(F.split(F.lower("text"), " ")) >= 3
    )
    cont = F.col("n_inter") / F.least("n_a", "n_b").cast("double")
    return (
        _source_gram_overlap(doc)
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= 0.5)
    )


_PCA_SQL = f"""
WITH cov0 AS ({_COV_SQL}),
sym AS (SELECT dim_i AS i, dim_j AS j,
               CAST(round(cov * 1000000) AS BIGINT) AS covq
        FROM cov0
        UNION ALL
        SELECT dim_j, dim_i, CAST(round(cov * 1000000) AS BIGINT)
        FROM cov0 WHERE dim_i < dim_j),
w1 AS (SELECT i, SUM(covq) AS w1q FROM sym GROUP BY i),
n1 AS (SELECT sqrt(CAST(SUM(w1q * w1q) AS DOUBLE)) AS nrm FROM w1),
v1 AS (SELECT i, CAST(w1q AS DOUBLE) / nrm AS v FROM w1, n1),
w2 AS (SELECT s.i,
              CAST(SUM(CAST(CAST(s.covq AS DOUBLE) * v1.v AS {SQL_DEC}))
                   AS DOUBLE) AS w
       FROM sym s JOIN v1 ON v1.i = s.j GROUP BY s.i),
n2 AS (SELECT sqrt(CAST(SUM(CAST(w * w AS {SQL_DEC})) AS DOUBLE)) AS nrm
       FROM w2),
ray AS (SELECT CAST(SUM(CAST(v1.v * w2.w AS {SQL_DEC})) AS DOUBLE) / 1000000
        AS lam
        FROM v1 JOIN w2 ON w2.i = v1.i)
SELECT v1.i AS dim,
       {sql_dround('v1.v', 6)} AS v1,
       {sql_dround('w2.w / n2.nrm', 6)} AS v2,
       {sql_dround('ray.lam', 6)} AS top_eigenvalue
FROM v1 JOIN w2 ON w2.i = v1.i CROSS JOIN n2 CROSS JOIN ray
"""


@op("vec_pca_power_iteration", _PCA_SQL)
def vec_pca_power_iteration(spark: SparkSession, d: str) -> DataFrame:
    """Top principal direction of the embedding corpus by two unrolled
    power iterations over the DISTRIBUTED covariance relation
    [EXT: PCA/whitening — the companion to vec_covariance_matrix that
    actually extracts the direction]. Emits per-dimension the first-
    and second-iteration unit vectors plus the Rayleigh-quotient
    eigenvalue estimate.

    Scale shape: all the corpus-sized work is inside the covariance op
    (map-side pair explosion, 2080-group shuffle); the iteration
    itself runs on the 64x64 matrix — a constant-size relation that
    broadcasts, so adding iterations costs O(1) regardless of corpus
    size. Cross-engine exactness: the 6-dp covariance doubles are
    bit-identical in both engines, so covq = round(cov*1e6) is the
    same exact BIGINT; iteration 1 is pure integer sums (v0 = all-ones
    needs no per-term rounding at all — the dyadic-weight midpoint
    hazard win_ema_smooth documents is designed out); iteration 2 and
    the Rayleigh sum freeze each product to DECIMAL(25,6) so summation
    order cannot matter. Domain contract: UNIT-SCALE embeddings
    (|component| ≲ 2, i.e. normalized vectors — the corpus contract):
    the exact-integer stages need Σ w1q² < 2^63, which bounds |cov|
    at ~6; out-of-domain magnitudes raise a loud ANSI overflow
    instead of silently losing exactness."""
    # cache: the 2080-row covariance relation feeds both orientation
    # branches and both iterations — uncached, ReusedExchange still
    # re-runs the corpus-sized pair explosion for the second branch
    # (measured 5.9 → 3.7 s cold, ~9% warm at sf0.1; the harness
    # clears caches between ops).
    # repartition(1): every downstream stage operates on a ≤4160-row
    # model relation, but inherits the session's shuffle partition
    # count — at 32-64 partitions the ~10 tiny iteration stages are
    # almost pure task-launch overhead (measured 4.5 → 2.5 s at
    # sf0.1). One extra 2080-row shuffle collapses them all to
    # single-task; the corpus-sized covariance aggregation KEEPS full
    # parallelism (coalesce(1) would fold into its reduce stage and
    # serialize the shuffle read at cluster scale — rejected).
    cov0 = vec_covariance_matrix(spark, d).repartition(1).cache()
    covq = F.round(F.col("cov") * 1000000).cast("long").alias("covq")
    up = cov0.select(F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), covq)
    lo = cov0.filter(F.col("dim_i") < F.col("dim_j")).select(
        F.col("dim_j").alias("i"), F.col("dim_i").alias("j"), covq
    )
    sym = up.unionByName(lo)
    w1 = sym.groupBy("i").agg(F.sum("covq").alias("w1q"))
    n1 = w1.agg(
        F.sqrt(F.sum(F.col("w1q") * F.col("w1q")).cast("double")).alias("nrm")
    )
    v1 = w1.crossJoin(F.broadcast(n1)).select(
        "i", (F.col("w1q").cast("double") / F.col("nrm")).alias("v")
    )
    v1j = v1.select(F.col("i").alias("j"), F.col("v").alias("vj"))
    w2 = (
        sym.join(F.broadcast(v1j), "j")
        .groupBy("i")
        .agg(
            F.sum((F.col("covq").cast("double") * F.col("vj")).cast(DEC))
            .cast("double")
            .alias("w")
        )
    )
    n2 = w2.agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast(DEC)).cast("double")
        ).alias("nrm2")
    )
    ray = (
        v1.join(w2, "i")
        .agg(
            (
                F.sum((F.col("v") * F.col("w")).cast(DEC)).cast("double")
                / F.lit(1000000)
            ).alias("lam")
        )
    )
    return (
        v1.join(w2, "i")
        .crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(ray))
        .select(
            F.col("i").alias("dim"),
            dround(F.col("v"), 6).alias("v1"),
            dround(F.col("w") / F.col("nrm2"), 6).alias("v2"),
            dround(F.col("lam"), 6).alias("top_eigenvalue"),
        )
    )


# Fully integer dot product, so no double→DECIMAL midpoint can round
# apart across engines: xi = round(x·2^24) is exact for
# float32 components, m = round(v2·1e6) recovers the 6-dp-certified
# direction as an exact BIGINT, so Σ xi·m is one exact integer in both
# engines (|Σ| ≤ 64·2^25·1e6 ≈ 2.1e15 « 2^63 under the unit-scale
# embedding contract) and the 6-dp output is a sign-aware integer
# HALF_UP — no double→DECIMAL quantization anywhere. The former
# per-term DECIMAL(25,6) freeze hit the documented repr-vs-binary
# midpoint hazard on DYADIC components (k/2^s — exactly what the
# adversarial ramp and any int8-dequantized corpus produce).
_PCA_PROJECT_SQL = f"""
WITH pca AS ({_PCA_SQL}),
proj AS (SELECT e.vec_id,
                SUM(CAST(ROUND(CAST(e.embedding[pca.dim + 1] AS DOUBLE)
                               * 16777216) AS BIGINT)
                    * CAST(ROUND(pca.v2 * 1000000) AS BIGINT)) AS sq
         FROM embeddings e CROSS JOIN pca
         GROUP BY e.vec_id)
SELECT vec_id,
       CAST((sq + CASE WHEN sq >= 0 THEN 8388608
                       ELSE -8388608 END) // 16777216 AS DOUBLE)
         / 1000000 AS pc1_score
FROM proj
"""


@op("vec_pca_project", _PCA_PROJECT_SQL)
def vec_pca_project(spark: SparkSession, d: str) -> DataFrame:
    """Project every embedding onto the learned top principal
    direction (vec_pca_power_iteration's v2) — the APPLY step of
    PCA-based curation: rank/trim a corpus along its dominant
    variance axis [EXT: outlier pruning, diversity balancing].

    This is the part that actually runs at corpus scale, and its shape
    is the right one: the 64-row direction broadcasts, the dot product
    is a map-side per-row fold (posexplode + broadcast join + one
    vec_id-keyed partial-aggregated shuffle), nothing quadratic,
    nothing collected. Exactness: xi = round(x·2^24) is EXACT for
    float32 components and m = round(v2·1e6) is the certified 6-dp
    direction as an exact BIGINT, so the per-vector Σ xi·m is one
    exact integer in both engines and the 6-dp result is a sign-aware
    integer HALF_UP — no double→DECIMAL step (whose repr-vs-binary
    midpoint hazard fires on dyadic components, e.g. int8-dequantized
    embeddings)."""
    pca = vec_pca_power_iteration(spark, d).select(
        F.col("dim").alias("pos"),
        F.round(F.col("v2") * 1000000).cast("long").alias("m"),
    )
    e = t(spark, d, "embeddings")
    comps = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnsRenamed({"col": "x"})
    xi = F.round(F.col("x") * 16777216).cast("long")
    sq = (
        comps.join(F.broadcast(pca), "pos")
        .groupBy("vec_id")
        .agg(F.sum(xi * F.col("m")).alias("sq"))
    )
    score = F.expr(
        "(sq + CASE WHEN sq >= 0 THEN 8388608 ELSE -8388608 END)"
        " div 16777216"
    )
    return sq.select(
        "vec_id", (score.cast("double") / 1000000).alias("pc1_score")
    )


# Sampled-audit truth side, so that the audit itself scales: the
# exhaustive exact-Jaccard truth relation is quadratic, so the audit
# universe is a deterministic md5 doc sample (60-bit md5 of the
# id, mod 100 < _EVAL_TRUTH_PCT) — the posture production recall
# audits actually run, and the quadratic truth join shrinks ~pct².
# The CERTIFIED mode is the sampled mode (pct=30 < 100); both the
# sample predicate and the short-doc guard are mirrored move-for-move
# in the oracle. Predictions are restricted to pairs with BOTH
# endpoints in the sample so precision/recall read over one universe.
_EVAL_TRUTH_PCT = 30

_EVAL_SAMPLE_SQL = (
    "CAST(concat('0x', substr(md5(CAST({col} AS VARCHAR)), 1, 15))"
    f" AS BIGINT) % 100 < {_EVAL_TRUTH_PCT}"
)

_EVAL_SQL = f"""
WITH truth AS (
  WITH wg AS (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents
              WHERE len(string_split(lower(text), ' ')) >= 3
                AND {_EVAL_SAMPLE_SQL.format(col='doc_id')}),
  g AS (SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
        FROM (SELECT doc_id, words,
                     unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
              FROM wg)),
  sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
  inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.5),
preds AS (SELECT doc_a, doc_b FROM ({_SIMHASH_MIRROR_SQL})
          WHERE {_EVAL_SAMPLE_SQL.format(col='doc_a')}
            AND {_EVAL_SAMPLE_SQL.format(col='doc_b')}),
hit AS (SELECT COUNT(*) AS n_hit
        FROM preds JOIN truth USING (doc_a, doc_b))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM preds) AS n_pred,
       CAST(n_hit AS BIGINT) AS n_hit,
       CASE WHEN (SELECT COUNT(*) FROM preds) > 0
            THEN (1000000 * n_hit) // (SELECT COUNT(*) FROM preds)
            ELSE 1000000 END AS precision_ppm,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN (1000000 * n_hit) // (SELECT COUNT(*) FROM truth)
            ELSE 1000000 END AS recall_ppm
FROM hit
"""


@op("dedup_eval_simhash_recall", _EVAL_SQL)
def dedup_eval_simhash_recall(spark: SparkSession, d: str) -> DataFrame:
    """Measured precision/recall of the production simhash near-dup
    pipeline against exhaustive exact ground truth [EXT: the eval
    harness every approximate dedup deployment needs — banding/slicing
    recall is an empirical property (capped slices once lost true
    pairs at sf0.1), so it must be measured, not assumed].

    Truth = every pair with exact 3-gram Jaccard ≥ 0.5 within a
    DETERMINISTIC md5 doc sample (_EVAL_TRUTH_PCT = 30% of ≥3-word
    docs, no blocking inside the sample) — the sampled-audit posture
    production recall audits run, so the certified shape IS the
    scalable shape: the exhaustive side's quadratic work shrinks
    ~pct² and stays bounded at any corpus size by choosing pct.
    Predictions = the certified dedup_simhash pipeline (capped slices
    + Hamming cut + exact verify at the same 0.5 threshold),
    restricted to pairs with both endpoints in the sample so both
    sides read over one universe. Because predictions are
    exact-verified, precision is structurally 1.0 — and the op PROVES
    it (n_hit == n_pred) rather than asserting it; recall_ppm is the
    honest measured number. Both sides — including the sample
    predicate and short-doc guard — replay move-for-move in the
    DuckDB oracle (md5 fingerprints, occupancy cap, Hamming cut,
    verify), so the evaluation itself is certified, integer ppm
    end-to-end."""
    from ..llm.minhash import shingles as _sh

    def _sampled(col: str):
        h = F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
        ).cast("long")
        return (h % 100) < _EVAL_TRUTH_PCT

    doc = (
        t(spark, d, "documents")
        .filter(F.size(F.split(F.lower("text"), " ")) >= 3)
        .filter(_sampled("doc_id"))
    )
    g = _sh(doc, "doc_id", "text", k=3).dropDuplicates(["doc_id", "shingle"])
    sz = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = g.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    truth = (
        inter.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b")
    )
    preds = (
        dedup_simhash(spark, d)
        .select("doc_a", "doc_b")
        .filter(_sampled("doc_a") & _sampled("doc_b"))
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_pred = preds.agg(F.count(F.lit(1)).alias("n_pred"))
    n_hit = preds.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_hit.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_pred))
        .select(
            "n_true",
            "n_pred",
            "n_hit",
            F.when(
                F.col("n_pred") > 0,
                F.expr("(1000000 * n_hit) div n_pred"),
            ).otherwise(F.lit(1000000)).alias("precision_ppm"),
            F.when(
                F.col("n_true") > 0,
                F.expr("(1000000 * n_hit) div n_true"),
            ).otherwise(F.lit(1000000)).alias("recall_ppm"),
        )
    )


@op(
    "vec_pca_domain_check",
    """SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
              CAST(COUNT(*) AS BIGINT) AS n_components,
              MAX(ABS(CAST(x AS DOUBLE))) AS max_abs,
              CAST(SUM(CASE WHEN ABS(CAST(x AS DOUBLE)) > 2.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
              SUM(CASE WHEN ABS(CAST(x AS DOUBLE)) > 2.0
                       THEN 1 ELSE 0 END) = 0 AS domain_ok
       FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)""",
)
def vec_pca_domain_check(spark: SparkSession, d: str) -> DataFrame:
    """PCA-family domain precondition [EXT: the unit-scale contract
    |x| ≤ 2 that vec_pca_power_iteration / vec_pca_project's integer
    fixed-point exactness bound (Σw·q² < 2^63) assumes — without it an
    out-of-domain corpus surfaces only as a loud ANSI overflow
    mid-iteration].

    Run BEFORE the PCA ops: one combinable aggregate over the exploded
    components (map-side partials, a single 1-row shuffle at any
    corpus size) reporting the max |component|, the violation count,
    and a domain_ok verdict — a cheap gate a 1000-executor pipeline
    checks once instead of risking a failed hour-long PCA stage.
    MAX/COUNT/SUM-of-ints are order-independent and exact, so the
    relation is bit-identical in both engines, including on hostile
    corpora where domain_ok is false."""
    e = t(spark, d, "embeddings")
    u = e.select(
        "vec_id", F.explode("embedding").alias("xf")
    ).select("vec_id", F.col("xf").cast("double").alias("x"))
    viol = F.when(F.abs(F.col("x")) > 2.0, 1).otherwise(0)
    return u.agg(
        F.count_distinct("vec_id").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.max(F.abs(F.col("x"))).alias("max_abs"),
        F.sum(viol).cast("bigint").alias("n_violations"),
        (F.sum(viol) == 0).alias("domain_ok"),
    )
