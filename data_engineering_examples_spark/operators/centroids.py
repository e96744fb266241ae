"""Exact-integer nearest-centroid operator: the one distance, argmin and
centroid-update rule behind the engine's clustering pipelines (q94
k-means, q101 PQ codes, q107 drift, q175 IVF-PQ, q235 learned SemDeDup)
and q107/q198's centroid displacements.

Embeddings are quantized once to integer micro-units (``xq``, see
``similarity_queries._xq_substrate``).  A centroid is kept undivided as
``(cs, n)``: the per-dim member sum and the member count, so its mean is
``cs / n``.  The squared distance from ``xq`` to that mean is compared as
the n²-scaled integer  Σ_d (n·xq − cs_d)²,  each term cast to
DECIMAL(19,0) before squaring so the fold is exact (a double fold loses
the last unit above 2⁵³ and can flip an argmin).  Ties break toward the
lower cluster id.  DuckDB evaluates the same integers, so every
assignment, and therefore every next centroid, is bit-identical to the
oracles.  A seed centroid is one vector with ``n = 1``.

Frames:
  xq      ``(*by, dim, xq)``       — the quantized per-dim fact
  cent    ``(cluster, dim, cs, n)`` — K·DIM rows, always broadcast
  dists   ``(*by, cluster, dist)``
  assign  ``(vec_id, cluster, ...)`` — one row per vector

The Lloyd loops stay with their callers: q94 chains its rounds lazily,
q235 materializes each round's centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_sq(diff: Column) -> Column:
    """``diff²`` in DECIMAL(19,0): exact for any int64 difference."""
    d = diff.cast("decimal(19,0)")
    return d * d


def sq_dists(xq: DataFrame, cent: DataFrame, by=("vec_id",)) -> DataFrame:
    """``(*by, cluster, dist)`` with dist = Σ_d (n·xq − cs_d)².  The
    centroid table broadcasts, so the N·DIM fact is never shuffled for
    the join; ``by`` is the row key the distance sums over (a vector, or
    a (vector, subspace) pair for product quantization)."""
    return (
        xq.join(F.broadcast(cent), "dim")
        .groupBy(*by, "cluster")
        .agg(F.sum(exact_sq(F.col("n") * F.col("xq") - F.col("cs"))).alias("dist"))
    )


def nearest(dists: DataFrame, by=("vec_id",)) -> DataFrame:
    """``(*by, cluster, dist)``: the argmin per ``by`` key.
    ``min(struct(dist, cluster))`` orders by dist then cluster, so ties
    go to the lower cluster id without a window or a second shuffle."""
    return (
        dists.groupBy(*by)
        .agg(F.min(F.struct("dist", "cluster")).alias("m"))
        .select(*by, F.col("m.cluster").alias("cluster"), F.col("m.dist").alias("dist"))
    )


def centroid_update(xq: DataFrame, assign: DataFrame) -> DataFrame:
    """``(cluster, dim, cs, n)``: the next centroid table.  The N-row
    assignment broadcasts into the fact, so the update shuffles only the
    partial sums keyed by (cluster, dim)."""
    return (
        xq.join(F.broadcast(assign.select("vec_id", "cluster")), "vec_id")
        .groupBy("cluster", "dim")
        .agg(F.sum("xq").alias("cs"), F.count(F.lit(1)).alias("n"))
    )
