#!/usr/bin/env python
"""Measured MINHASH recall under the bucket-occupancy cap at 25×
duplication (VERDICT r10 item 7).

The occupancy cap (llm/minhash.py cap_buckets, max_bucket=200 in
candidate_pairs) is the one knob that trades recall SILENTLY as
duplication grows: dedup_eval_simhash_recall measures the simhash family against sampled
brute-force truth, but nothing measured minhash's verified-pair recall
under the cap. This probe reuses the dedup25 fixture (documents
replicated 25× unperturbed — every doc has 25 exact copies, the
adversarial occupancy case) and reports, for the shipping cap and two
deliberately-tight caps:

    recall = |verified pairs with cap| / |verified pairs UNCAPPED|

Verified pairs = the full minhash_near_dups output (Jaccard ≥ 0.5
exact-verified), so this is end-to-end recall of the op's answer, not
candidate-count arithmetic. Capped output is a subset of uncapped by
construction (same verify on fewer candidates), so the ratio IS the
recall. Appends a marker-delimited section to SCALING.md (idempotent).

Usage: python tools/minhash_recall_probe.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tpc_di_etl_using_pyspark_spark.llm.minhash import minhash_near_dups  # noqa: E402
from tpc_di_etl_using_pyspark_spark.plans._util import t  # noqa: E402
from tpc_di_etl_using_pyspark_spark.session import get_spark  # noqa: E402

from dedup25_probe import SCALED, build_scaled, scaled_is_current  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CAPS = [200, 64, 32]  # shipping cap first, then caps that bite at 25x

MARK_BEGIN = "<!-- minhash_recall_probe:begin -->"
MARK_END = "<!-- minhash_recall_probe:end -->"


def pair_count(spark, d: str, max_bucket: int | None) -> int:
    doc = t(spark, d, "documents")
    return minhash_near_dups(
        doc, "doc_id", "text", k=3, num_hashes=32, bands=8,
        threshold=0.5, max_bucket=max_bucket,
    ).count()


def main() -> None:
    spark = get_spark("minhash-recall-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if not scaled_is_current():
        print("[minhash_recall_probe] 25x copy missing or stale; rebuilding")
        build_scaled(spark)
    uncapped = pair_count(spark, SCALED, None)
    rows = []
    for cap in CAPS:
        got = pair_count(spark, SCALED, cap)
        rows.append((cap, got, got / uncapped if uncapped else float("nan")))
        print(f"cap={cap}: {got:,} / {uncapped:,} verified pairs "
              f"(recall {rows[-1][2]:.4f})", flush=True)

    lines = [
        MARK_BEGIN,
        "",
        "## Minhash recall under the bucket cap at 25× duplication "
        "(tools/minhash_recall_probe.py)",
        "",
        "End-to-end VERIFIED-pair recall (Jaccard ≥ 0.5 after exact",
        "verify) of the capped minhash pipeline vs the uncapped one on",
        "the dedup25 fixture (documents ×25, unperturbed copies —",
        f"adversarial occupancy). Uncapped answer: {uncapped:,} pairs.",
        "",
        "| max_bucket | verified pairs | recall |",
        "| --- | --- | --- |",
    ]
    for cap, got, rec in rows:
        ship = " (shipping)" if cap == 200 else ""
        lines.append(f"| {cap}{ship} | {got:,} | {rec:.4f} |")
    lines += [
        "",
        "Adjudication: at 25× duplication the band buckets top out at",
        "occupancy 100 (see the dedup25 section above), so the shipping",
        "cap of 200 drops NOTHING — recall 1.0 measured, not assumed.",
        "The tight-cap rows quantify what the knob trades when it does",
        "bite: the cap removes whole boilerplate-bucket cliques, so",
        "recall loss is concentrated in exactly the mega-duplicate",
        "groups a curation pipeline wants exact-dedup (dedup_exact_hash)",
        "to own anyway. Re-run this probe if max_bucket or the banding",
        "parameters change.",
        "",
        MARK_END,
    ]
    path = os.path.join(REPO, "SCALING.md")
    text = open(path).read()
    block = "\n".join(lines)
    if MARK_BEGIN in text:
        pre = text.split(MARK_BEGIN)[0]
        post = text.split(MARK_END)[1]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    open(path, "w").write(text)
    print("SCALING.md updated")


if __name__ == "__main__":
    main()
