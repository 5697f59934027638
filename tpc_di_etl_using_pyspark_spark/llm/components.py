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

Scale posture: the edge relation is checkpointed once. Superstep 1
needs no label relation — every label is still the node's own id, so
the new label is ``least(min(neighbour), node)``: one keyed
min-aggregation over the edges. Each later superstep is one shuffle
join (edges ⋈ labels on node id) plus one keyed min-aggregation. Every
superstep's labels are checkpointed eagerly, and the number of changed
labels comes back to the driver as an observed metric of that same
checkpoint job — one number per superstep, no extra job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
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
    converged = False
    for step in range(max_iter):
        if step == 0:
            # superstep 1: every node's label is its own id, so the min
            # over its neighbours' labels is the min over its neighbours
            # (``both`` holds each edge in both directions)
            new_labels = (
                both.groupBy("a")
                .agg(F.min("b").alias("_m"))
                .select(
                    F.col("a").alias("node"),
                    F.least("_m", "a").alias("component"),
                    (F.col("_m") < F.col("a")).alias("_chg"),
                )
            )
        else:
            msgs = both.join(labels, both.a == labels.node).select(
                F.col("b").alias("node"), F.col("component")
            )
            # convergence flag fused into the label aggregation: the old
            # row rides the union with an _old marker, so min(component)
            # and the node's previous component come out of the same
            # groupBy. Every node has exactly one old row, so _prev is
            # never NULL and "changed" is exactly new≠old.
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
            )
        # the changed-label count is observed by the checkpoint job
        # itself: a separate count() would be one more job per superstep
        changed = Observation()
        new_labels = new_labels.observe(
            changed, F.count_if("_chg").alias("n")
        ).localCheckpoint(eager=True)
        labels = new_labels.select("node", "component")
        if changed.get["n"] == 0:
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
