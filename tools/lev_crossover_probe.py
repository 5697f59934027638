#!/usr/bin/env python
"""Crossover probe for str_levenshtein_link's quadratic block join
(SURVEY §7.5 round-9 proposal 5; SCALING.md round-9 adjudication).

Question to answer with data, not guesses: at what corpus size does a
SymSpell-style DELETION-NEIGHBORHOOD join beat the current brute
blocked pair join, and does the answer hold on the driver fixture's
uniform-length names?

Method (probe only — the registered op is untouched):

- Synthesize customer-like corpora at N ∈ {15k, 75k, 375k} rows over
  25 nation blocks (sf0.1-like, 5×, 25×), two name shapes per N:
  * uniform: 'Customer#%09d'-derived (the driver fixture's shape —
    fixed length, long shared prefixes, worst case for banding);
  * mixed: the same plus a deterministic 0–12-char suffix (realistic
    length spread).
  Ids fold ~7-to-1 onto base names with a keyed single-char edit, so
  most rows sit within 1–2 edits of a few neighbors — a dup-heavy
  linkage corpus, not random noise.
- BRUTE: the op's current shape — block self-join on nationkey,
  id_a < id_b, filter levenshtein ≤ 2.
- NEIGHBORHOOD: per row generate all ≤2-deletion variants (1 + L +
  C(L,2) strings), self-join on (block, variant), distinct pair,
  verify levenshtein ≤ 2. EXACT for Levenshtein ≤ 2: if lev(a,b) ≤ 2
  then a and b share a variant reachable by ≤2 deletions from each
  (SymSpell completeness), so the candidate set is a superset and the
  verify filter makes the output identical to BRUTE's.
- Assert both approaches return the SAME pairs at each tier (the
  probe doubles as a correctness check of the sketch), then report
  wall times and the measured crossover.

Usage: SPARK_DRIVER_MEMORY=48g python tools/lev_crossover_probe.py [--quick]
  --quick drops the 375k tier (for smoke runs). The 375k tier needs
  the larger heap (the default 8g OOMs on the brute side's 5.6e9
  candidate stream); the name-lookup joins carry explicit broadcast
  hints so AQE cannot pick the million-row candidate relation to
  broadcast (measured: it did, and hit the 8 GB broadcast cap).

STATUS (round 11, VERDICT r10 item 5): HISTORY / RE-MEASURE HARNESS.
The registered op adopted the neighborhood plan in round 10, so the
BRUTE arm here is no longer the shipping shape and is NOT load-bearing
for correctness — the suite pins neighborhood == brute pair-set
equality in tests/test_levenshtein_link.py on every run. Keep this
probe for re-measuring the crossover if the corpus shape changes
(e.g. much longer names inflate the variant lattice); its timings are
the round-9/10 adjudication record behind SCALING.md's levenshtein
rows.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from tpc_di_etl_using_pyspark_spark.session import get_spark  # noqa: E402

BLOCKS = 25


def corpus(spark, n: int, mixed: bool) -> DataFrame:
    base = spark.range(n).select(
        F.col("id").alias("ck"),
        (F.col("id") % BLOCKS).cast("int").alias("blk"),
    )
    name = F.format_string("Customer#%09d", (F.col("ck") / 7).cast("long"))
    if mixed:
        name = F.concat(
            name,
            F.substring(F.lit("abcdefghijkl"), 1, (F.col("ck") % 13).cast("int")),
        )
    c = base.withColumn("name", name)
    # keyed single-char edit on top of the folded base name
    edited = F.concat(
        F.expr("substring(name, 1, 8)"),
        F.when(F.col("ck") % 3 == 0, F.lit("X")).otherwise(
            F.expr("substring(name, 9, 1)")
        ),
        F.expr("substring(name, 10)"),
    )
    return c.withColumn("name", edited).select("ck", "blk", "name")


def brute(c: DataFrame) -> DataFrame:
    a = c.select(F.col("blk"), F.col("ck").alias("id_a"), F.col("name").alias("na"))
    b = c.select(F.col("blk"), F.col("ck").alias("id_b"), F.col("name").alias("nb"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("na", "nb") <= 2)
        .select("id_a", "id_b")
    )


def neighborhood(c: DataFrame) -> DataFrame:
    """All ≤2-deletion variants, expression-only (sequence + explode,
    no UDF): (i, j) with i ∈ 0..L (i = 0 → no deletion) and j < i
    (j = 0 → only one deletion) — every unordered pair of distinct
    positions exactly once, deleting the higher index first so the
    second index stays valid on the shortened string."""
    v = c.select(
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
    left = variants.select(F.col("blk"), F.col("var"), F.col("ck").alias("id_a"))
    right = variants.select(F.col("blk"), F.col("var"), F.col("ck").alias("id_b"))
    cand = (
        # force SMJ: the post-explode/dropDuplicates size ESTIMATE can
        # undershoot the 32 MB broadcast threshold while the actual
        # variant relation is GBs (measured: planner broadcast the
        # 375k-mixed side and hit the 8 GB broadcast cap)
        left.hint("merge").join(right, ["blk", "var"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    na = c.select(F.col("ck").alias("id_a"), F.col("name").alias("na"))
    nb = c.select(F.col("ck").alias("id_b"), F.col("name").alias("nb"))
    return (
        cand.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .filter(F.levenshtein("na", "nb") <= 2)
        .select("id_a", "id_b")
    )


def timed(df: DataFrame) -> tuple[float, int]:
    t0 = time.monotonic()
    n = df.count()
    return time.monotonic() - t0, n


def main() -> None:
    quick = "--quick" in sys.argv
    spark = get_spark("lev-crossover-probe")
    spark.sparkContext.setLogLevel("ERROR")
    tiers = [15_000, 75_000] + ([] if quick else [375_000])
    print("| rows | shape | brute (s) | neighborhood (s) | pairs |")
    print("| --- | --- | --- | --- | --- |")
    for n in tiers:
        for mixed in (False, True):
            c = corpus(spark, n, mixed).cache()
            c.count()
            tb, npairs_b = timed(brute(c))
            tn, npairs_n = timed(neighborhood(c))
            if n == tiers[0]:
                # exact pair-set equality at the cheap tier (counts
                # alone could mask compensating errors)
                sb = {tuple(r) for r in brute(c).collect()}
                sn = {tuple(r) for r in neighborhood(c).collect()}
                assert sb == sn, (
                    f"pair-set mismatch at n={n} mixed={mixed}: "
                    f"{len(sb ^ sn)} differing"
                )
            assert npairs_b == npairs_n, (
                f"pair-count mismatch at n={n} mixed={mixed}: "
                f"{npairs_b} vs {npairs_n}"
            )
            shape = "mixed" if mixed else "uniform"
            print(
                f"| {n} | {shape} | {tb:.2f} | {tn:.2f} | {npairs_b} |",
                flush=True,
            )
            c.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
