#!/usr/bin/env python
"""25× volume stress probe for the dedup/ANN candidate-join family.

The 5× probe under-stresses bucket occupancy (VERDICT r2 item 8): with
exact-copy replicas every duplicate lands in the same LSH bucket, so
occupancy — and the candidate self-join — grows with the replica
factor. This probe replicates documents+embeddings 25× WITHOUT
perturbing content (the adversarial case: every doc/vector has 25
exact or near-exact copies) and reports, per candidate generator:

- band/chunk bucket-occupancy histograms (max, p99, buckets over the
  cap) at 25×,
- the candidate-pair count the capped generator emits vs the count the
  UNCAPPED generator would emit (computed as Σ C(bucket,2) — no join
  materialized),
- wall-clock at sf0.1 vs 25× for the four family heads.

A bounded capped/uncapped gap + sub-25× time ratio is the evidence
that the max_bucket caps (llm/minhash.py, llm/simhash.py, rp-LSH band
join) turn degenerate-duplication corpora from quadratic into linear.

Writes a marker-delimited section into SCALING.md (idempotent).
Usage: python tools/dedup25_probe.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tpc_di_etl_using_pyspark_spark.plans.registry import all_queries  # noqa: E402
from tpc_di_etl_using_pyspark_spark.plans._util import t  # noqa: E402
from tpc_di_etl_using_pyspark_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALED = "/tmp/spark_graft_scaled/dedup25"
REPLICAS = 25
CAP = 200

OPS = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_rp_lsh_cosine",
    "pipeline_incremental_dedup",
    "multimodal_phash_neardup",
    "stream_incremental_dedup",
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
]


def base_fingerprint() -> str:
    """Identity of the BASE tables the 25× copy replicates (path +
    size/mtime): a regenerated fixture must invalidate the copy, or a
    reusing probe silently measures mismatched data (the scale_probe
    --only staleness class, ADVICE r10)."""
    parts = [BASE]
    for name in ("documents", "embeddings"):
        p = f"{BASE}/{name}.parquet"
        try:
            st = os.stat(p)
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{name}:absent")
    return "|".join(parts)


def scaled_is_current() -> bool:
    try:
        return open(f"{SCALED}/.base_fingerprint").read() == base_fingerprint()
    except OSError:
        return False


def build_scaled(spark) -> None:
    shutil.rmtree(SCALED, ignore_errors=True)
    os.makedirs(SCALED, exist_ok=True)
    for name, key in [("documents", "doc_id"), ("embeddings", "vec_id")]:
        df = t(spark, BASE, name)
        off = df.agg(F.max(key)).first()[0] + 1
        reps = [
            df.withColumn(key, (F.col(key) + F.lit(r * off)).cast("long"))
            for r in range(REPLICAS)
        ]
        out = reps[0]
        for p in reps[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{SCALED}/{name}.parquet")
    with open(f"{SCALED}/.base_fingerprint", "w") as f:
        f.write(base_fingerprint())


def _occupancy(bk, cols) -> dict:
    occ = bk.groupBy(*cols).count()
    stats = occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("count").alias("max"),
        F.expr("percentile(count, 0.99)").alias("p99"),
        F.sum(F.when(F.col("count") > CAP, 1).otherwise(0)).alias("over_cap"),
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("uncapped_pairs"),
        F.sum(
            F.when(
                F.col("count") <= CAP, F.col("count") * (F.col("count") - 1) / 2
            ).otherwise(0)
        ).alias("capped_pairs"),
    ).first()
    return dict(
        n_buckets=stats["n_buckets"],
        max=stats["max"],
        p99=float(stats["p99"]),
        over_cap=stats["over_cap"],
        uncapped_pairs=int(stats["uncapped_pairs"]),
        capped_pairs=int(stats["capped_pairs"]),
    )


def bucket_stats(spark) -> dict[str, dict]:
    from tpc_di_etl_using_pyspark_spark.llm.minhash import (
        band_keys,
        minhash_signature,
        shingles,
    )
    from tpc_di_etl_using_pyspark_spark.llm.simhash import fingerprint_slices, simhash

    doc = t(spark, SCALED, "documents")
    emb = t(spark, SCALED, "embeddings")
    out: dict[str, dict] = {}

    sh = shingles(doc, "doc_id", "text", 3)
    mh_bk = band_keys(minhash_signature(sh, "doc_id", 32), "doc_id", 32, 8)
    out["minhash bands (32 hashes, 8 bands)"] = _occupancy(
        mh_bk, ["band_idx", "band_key"]
    )

    ch = fingerprint_slices(simhash(doc, "doc_id", "text"), "doc_id", 15)
    out["simhash slices (15-bit)"] = _occupancy(ch, ["chunk_idx", "chunk"])

    # rp-LSH band keys: the same key values as sim_rp_lsh_cosine's
    # bands, built another way — a planes join and a sorted collect_list
    # per band, where the op computes the plane weights inline and
    # explodes both band keys with explode_bands
    comps = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding", lambda x: F.floor(x.cast("double") * 1000000).cast("long")
            )
        ),
    ).select("vec_id", F.col("pos").alias("j"), F.col("col").alias("xi"))
    lcg = F.lit(1103515245).cast("long") * F.col("id") + 12345
    planes = spark.range(16 * 64).select(
        (F.col("id") / 64).cast("long").alias("p"),
        (F.col("id") % 64).alias("j"),
        (((lcg - lcg % 65536) / 65536).cast("long") % 2048 - 1024).alias("w"),
    )
    dots = (
        comps.join(F.broadcast(planes), "j")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("xi") * F.col("w")).alias("dp"))
    )
    bit = F.when(F.col("dp") >= 0, F.lit("1")).otherwise(F.lit("0"))
    sigs = (
        dots.select(
            "vec_id",
            F.floor(F.col("p") / 8).cast("int").alias("band_idx"),
            F.struct(F.col("p"), bit.alias("b")).alias("pb"),
        )
        .groupBy("vec_id", "band_idx")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("pb")), lambda s: s["b"])
            ).alias("band_key")
        )
    )
    out["rp-LSH bands (16 planes, 2 bands)"] = _occupancy(
        sigs, ["band_idx", "band_key"]
    )
    return out


def stream_dedup_counts(spark) -> dict[str, dict]:
    """Candidate/output counts for stream_incremental_dedup's index
    probe at base vs 25× (VERDICT r3 item 4): is the 25× wall-clock
    ratio output-bound like its batch sibling, or a candidate blow-up
    the cap failed to bound?"""
    from tpc_di_etl_using_pyspark_spark.llm.minhash import (
        band_keys,
        minhash_signature,
        shingles,
    )
    from tpc_di_etl_using_pyspark_spark.streaming.ops import (
        build_corpus_index,
        probe_index_with_batch,
    )

    out: dict[str, dict] = {}
    for label, d in (("base", BASE), ("25x", SCALED)):
        doc = t(spark, d, "documents")
        corpus = doc.filter(F.col("doc_id") % 7 != 0)
        arriving = doc.filter(F.col("doc_id") % 7 == 0)
        index_bk, index_sh = build_corpus_index(corpus)
        nb = band_keys(
            minhash_signature(shingles(arriving, "doc_id", "text", 3), "doc_id", 32),
            "doc_id",
            32,
            8,
        ).select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
        capped = (
            nb.join(index_bk, ["band_idx", "band_key"])
            .select("doc_a", "doc_b")
            .dropDuplicates()
            .count()
        )
        uncapped_bk = band_keys(
            minhash_signature(index_sh, "doc_id", 32), "doc_id", 32, 8
        ).select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
        uncapped = (
            nb.join(uncapped_bk, ["band_idx", "band_key"])
            .select("doc_a", "doc_b")
            .dropDuplicates()
            .count()
        )
        n_out = probe_index_with_batch(index_bk, index_sh, arriving).count()
        spark.catalog.clearCache()
        out[label] = dict(capped=capped, uncapped=uncapped, out=n_out)
    return out


def time_ops(spark) -> dict[str, tuple[float, float]]:
    qs = all_queries()
    res = {}
    for name in OPS:
        qs[name](spark, BASE).write.mode("overwrite").format("noop").save()  # warm
        base = min(
            _run(qs[name], spark, BASE) for _ in range(2)
        )
        big = min(_run(qs[name], spark, SCALED) for _ in range(2))
        spark.catalog.clearCache()
        res[name] = (base, big)
    return res


def _run(fn, spark, d) -> float:
    t0 = time.perf_counter()
    fn(spark, d).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


MARK_A = "<!-- dedup25:start -->"
MARK_B = "<!-- dedup25:end -->"


def main() -> None:
    spark = get_spark("dedup25-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark)
    spark.stop()
    spark = get_spark("dedup25-measure")
    spark.sparkContext.setLogLevel("ERROR")
    stats = bucket_stats(spark)
    spark.catalog.clearCache()
    sdc = stream_dedup_counts(spark)
    times = time_ops(spark)

    lines = [
        MARK_A,
        "",
        "## 25× duplication stress probe (tools/dedup25_probe.py)",
        "",
        f"documents+embeddings replicated {REPLICAS}× with UNPERTURBED",
        "content — the adversarial corpus where every doc/vector has",
        f"{REPLICAS} (near-)exact copies, so every LSH bucket's occupancy",
        "scales with the duplication factor. The max_bucket cap "
        f"(= {CAP})",
        "is what keeps the candidate self-joins from going quadratic:",
        "",
        "| Candidate generator | buckets | max occ | p99 | over cap | uncapped pairs | capped pairs |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for name, s in stats.items():
        lines.append(
            f"| {name} | {s['n_buckets']:,} | {s['max']:,} | {s['p99']:.0f} "
            f"| {s['over_cap']:,} | {s['uncapped_pairs']:,} | {s['capped_pairs']:,} |"
        )
    lines += [
        "",
        "| Query | sf0.1 (s) | 25× (s) | ratio |",
        "| --- | --- | --- | --- |",
    ]
    for name, (b, g) in times.items():
        lines.append(f"| `{name}` | {b:.2f} | {g:.2f} | {g / b:.1f}× |")
    b25, s25 = sdc["base"], sdc["25x"]
    tb, tg = times["stream_incremental_dedup"]
    lines += [
        "",
        "**Exact-op rows (`dedup_ngram_jaccard`, `dedup_ngram_containment`)",
        "adjudication:** these are EXACT set-similarity ops — no cap is",
        "admissible because capping would change the specified answer — and on",
        "an unperturbed 25× corpus the TRUE answer itself grows quadratically",
        "in the duplication factor (every clone group of 25 contributes",
        "C(25,2) = 300 pairs, ~625× the base pair count). The table's",
        "wall-clock ratios for ~625× output rows are output-bound scaling, the same adjudication as",
        "minhash above; the production posture for duplication-heavy corpora",
        "is to run the capped approximate generators (minhash/simhash) first",
        "and reserve the exact ops for the post-LSH verify set, which is what",
        "dedup_minhash_lsh/dedup_simhash already do internally.",
        "",
        "**`stream_incremental_dedup` adjudication (measured, VERDICT r3",
        "item 4):** arriving-batch probe of the capped standing index —",
        f"candidates {b25['capped']:,} (uncapped {b25['uncapped']:,}) →",
        f"{b25['out']:,} verified pairs at base vs candidates",
        f"{s25['capped']:,} (uncapped {s25['uncapped']:,}) →",
        f"{s25['out']:,} verified pairs at 25×. The",
        f"{tg / tb:.1f}× wall-clock ({tb:.2f} s → {tg:.2f} s) is",
        "output-bound like its batch sibling: every clone group",
        "contributes ~(25/7)·(25·6/7) arriving×corpus true pairs, so the",
        f"TRUE answer grows {s25['out'] / max(b25['out'], 1):,.0f}× and candidates track it (capped ≈",
        "uncapped here because unperturbed duplication spreads each",
        "group across arriving/corpus sides — minhash bucket occupancy",
        "stays ≤ 100, under the 200 cap; contrast simhash slices above",
        "where the cap bites). The remaining cost is the in-plan corpus",
        "index REBUILD, which is linear in corpus size by construction",
        "(production keeps the index standing — see PLANS.md).",
        "",
        MARK_B,
    ]

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(path) as f:
        doc = f.read()
    if MARK_A in doc:
        pre = doc[: doc.index(MARK_A)]
        post = doc[doc.index(MARK_B) + len(MARK_B):]
        doc = pre + "\n".join(lines) + post
    else:
        doc = doc.rstrip() + "\n\n" + "\n".join(lines) + "\n"
    with open(path, "w") as f:
        f.write(doc)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
