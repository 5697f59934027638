"""Embedding similarity search: brute-force cosine top-k (baseline),
blocked kNN, and an IVF-style bucketed variant (scale path).

This is the only module that says how a vector is scored:

- ``normed`` projects ``as_double(v)`` and its L2 norm once per vector;
- ``score`` is the cosine from a dot product and two norms, and holds
  the only zero-norm → NULL guard;
- ``ivf_cell`` is the nearest-centroid fold, first maximum wins.

Dot products are ``zip_with`` + ``aggregate`` expressions (no Python).
``ZipWith``, ``ArrayAggregate`` and ``ArrayTransform`` are
``CodegenFallback`` in Spark 4.1, so every fold is interpreted per
row: a norm belongs on the one-row-per-vector relation, never on the
pair relation, where it would be folded again for every comparison.

Scale posture: brute-force vs a single query vector is a narrow map +
top-k (fine at any scale with hierarchical top-k); pairwise kNN joins
MUST be blocked (label / IVF cell) to bound the quadratic join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def as_double(arr) -> Column:
    return F.transform(_c(arr), lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda s, x: s + x)


def l2_norm(a) -> Column:
    return F.sqrt(dot(a, a))


def normed(
    df: DataFrame, *cols, vec_col: str = "embedding", v: str = "v", nrm: str = "nrm"
) -> DataFrame:
    """``cols`` plus ``v`` = as_double(vec_col) and ``nrm`` = its L2 norm,
    computed once per row of ``df`` (one row per vector), so a pair
    scored later folds only its dot product. Same sqrt over the same
    array as a per-pair norm, so the scores are bit-identical."""
    return df.select(*cols, as_double(vec_col).alias(v)).select("*", l2_norm(v).alias(nrm))


def score(va, na, vb, nb) -> Column:
    """Cosine of two vectors from their dot product and norms.

    NULLIF: a zero-norm vector has no direction, so its similarity is
    NULL rather than an ANSI DIVIDE_BY_ZERO that kills the stage; every
    oracle mirrors the same NULLIF."""
    return dot(va, vb) / F.nullif(_c(na) * _c(nb), F.lit(0.0))


def query(qvec: list[float]) -> tuple[Column, Column]:
    """A constant query vector as an array literal, and its norm."""
    q = F.array(*[F.lit(x) for x in qvec])
    return q, l2_norm(q)


def _round6(c: Column) -> Column:
    # through DECIMAL(25,6): both engines round the same 6-decimal value
    return F.round(c.cast("decimal(25,6)"), 6).cast("double")


def query_vector(dim: int = 64) -> list[float]:
    """Deterministic rational-valued query vector (exact in binary-ish,
    reproducible in SQL: ((d*37) % 19 - 9) / 9)."""
    return [((d * 37) % 19 - 9) / 9 for d in range(dim)]


def ivf_centroids(n_cells: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-centroids: ((c*7 + d*13) % 11 - 5) / 5."""
    return [[((c * 7 + d * 13) % 11 - 5) / 5 for d in range(dim)] for c in range(n_cells)]


def ivf_cell(vec: Column, cents: list[list[float]]) -> Column:
    """Cell of ``vec``: argmax over c of dot(centroid_c, vec), as a fold
    over the cell indices. The update is strict-greater, so on a tie the
    first (lowest) cell wins; the oracles replay the same rule."""
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
    idx = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    return F.aggregate(
        idx,
        F.struct(F.lit(-1).alias("cell"), F.lit(float("-inf")).alias("score")),
        lambda acc, i: F.when(
            dot(F.element_at(cent_arr, i + 1), vec) > acc["score"],
            F.struct(
                i.cast("int").alias("cell"),
                dot(F.element_at(cent_arr, i + 1), vec).alias("score"),
            ),
        ).otherwise(acc),
    )["cell"]


def ivf_probe_cells(qvec: list[float], n_cells: int = 8, n_probe: int = 1) -> list[int]:
    """The query's ``n_probe`` nearest cells, nearest first (ties to the
    lower cell, as in ``ivf_cell``). Computed in Python: the centroids
    and the query are fixed, so a probe is a static filter."""
    cents = ivf_centroids(n_cells, len(qvec))
    return sorted(
        range(n_cells),
        key=lambda c: (-sum(x * y for x, y in zip(cents[c], qvec)), c),
    )[:n_probe]


def brute_force_topk(
    df: DataFrame, qvec: list[float], k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Global top-k by cosine vs a fixed query vector.

    The ranking value is rounded to 6 decimals (cross-engine float
    safety) with the id as tiebreak. At cluster scale Spark computes
    this as per-partition top-k then a single-reducer merge (sort +
    limit → TakeOrderedAndProject), so no global shuffle of the data.
    """
    q, qn = query(qvec)
    scored = normed(df, F.col(id_col), vec_col=vec_col).select(
        F.col(id_col), _round6(score("v", "nrm", q, qn)).alias("cos_sim")
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def knn_join_blocked(
    df: DataFrame,
    block_col: str = "label",
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k nearest neighbors per vector within its block (equi-join on the
    block key bounds the pair count; the block is the unit of scale)."""
    from pyspark.sql import Window

    blk = F.col(block_col).alias("blk")
    a = normed(df, blk, F.col(id_col).alias("id_a"), vec_col=vec_col, v="va", nrm="na")
    b = normed(df, blk, F.col(id_col).alias("id_b"), vec_col=vec_col, v="vb", nrm="nb")
    pairs = a.join(b, "blk").filter(F.col("id_a") != F.col("id_b"))
    scored = pairs.select(
        "blk", "id_a", "id_b", _round6(score("va", "na", "vb", "nb")).alias("cos_sim")
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cos_sim").desc(), F.col("id_b"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def ivf_topk(
    df: DataFrame,
    qvec: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest pseudo-centroid
    (build side); probe only the query's ``n_probe`` nearest cells — the
    standard recall/cost knob (n_probe=n_cells ≡ brute force, asserted
    in tests/test_llm.py).

    At scale the cell assignment is a narrow map; the probe is a static
    filter over the cell column (``ivf_probe_cells``), so it reads only
    the probed cells' partitions when the index is written partitioned
    by cell. Recall < 1 for n_probe < n_cells by construction.
    """
    v = as_double(vec_col)
    assigned = df.select(
        F.col(id_col), v.alias("v"), ivf_cell(v, ivf_centroids(n_cells, len(qvec))).alias("cell")
    )
    probe = assigned.filter(F.col("cell").isin(ivf_probe_cells(qvec, n_cells, n_probe)))
    q, qn = query(qvec)
    # one score per probed vector, so its norm is folded in that projection
    scored = probe.select(
        F.col(id_col),
        F.col("cell"),
        _round6(score("v", l2_norm("v"), q, qn)).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
