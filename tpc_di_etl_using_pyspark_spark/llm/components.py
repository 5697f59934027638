"""Connected components over a pair/edge list — the clustering step of
a dedup pipeline (near-dup *pairs* → dup *clusters* → keep-one).

Pregel-style driver-coordinated min-label propagation: every node
starts as its own component; each superstep pushes the smaller label
across every edge (both directions) and keeps the per-node min. The
loop is the one place this engine runs an action per iteration — the
standard shape for iterative graph algorithms on Spark (GraphX/GraphFrames
do the same under the hood), converging in O(component diameter)
supersteps. Dedup graphs have tiny diameters (dup clusters are
near-cliques), so 2-3 supersteps is typical; ``max_iter`` bounds the
worst case.

Scale posture: each superstep is one shuffle join (edges ⋈ labels on
node id) plus one keyed min-aggregation — no driver-side data beyond
the single convergence count. Label state is checkpoint-friendly
(``localCheckpoint`` every few supersteps would truncate lineage on a
real cluster; unnecessary at the bounded iteration counts used here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 15,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    min node id reachable. Nodes absent from ``edges`` are absent from
    the result (callers union in singletons if needed)."""
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # Materialize once: every superstep re-reads the edge relation, and
    # without truncation each iteration would re-run the whole upstream
    # lineage (and the label plan would grow by one join per superstep —
    # exponential analysis cost). localCheckpoint = cached + lineage cut.
    both = both.localCheckpoint(eager=True)
    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        msgs = both.join(labels, both.a == labels.node).select(
            F.col("b").alias("node"), F.col("component")
        )
        # convergence flag FUSED into the label aggregation
        # (optimization r14, guide §2.4): the old row rides the union
        # with an _old marker, so min(component) and the node's
        # previous component come out of the SAME groupBy — the former
        # per-superstep probe join (a second shuffle job over both
        # label sets) becomes a filter-scan of the already
        # checkpointed result. Every node has exactly one old row, so
        # _prev is never NULL and "changed" is exactly the old
        # new≠old join predicate.
        new_labels = (
            labels.select("node", "component", F.lit(True).alias("_old"))
            .unionByName(msgs.withColumn("_old", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_old"), F.col("component"))).alias(
                    "_prev"
                ),
            )
            .withColumn("_chg", F.col("component") != F.col("_prev"))
            .drop("_prev")
            .localCheckpoint(eager=True)
        )
        # a plain count, not limit(1).count(): a limit's generated code
        # names its row counter from a JVM-wide sequence
        # (_limit_counter_<n>), so every new plan holding a limit has
        # new source and compiles again, once for the driver's class
        # loader and once for the executor's. The filtered scan and
        # count compile once per session. Both read every row when
        # the labels have converged.
        changed = new_labels.filter("_chg").count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        # propagation distance = component diameter; silently returning
        # partial labels would be wrong-but-plausible output
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} supersteps "
            "(component diameter exceeds max_iter — raise max_iter or reduce "
            "graph diameter, e.g. star-shaped edges per cluster)"
        )
    return labels
