"""The exact-integer nearest-centroid operator (``operators/centroids.py``).

* Two centroids at the same distance resolve to the lower cluster id.
* Two distances above 2⁵³ that differ by 1 still order correctly; a
  double fold rounds them to one value.
* ``by=("vec_id", "subspace")`` keeps each subspace's argmin apart.

q94/q235's end-to-end Python references live in
``test_iterative_queries.py`` and ``test_r8_new_queries.py``.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from data_engineering_examples_spark.operators.centroids import nearest, sq_dists

_XQ = "vec_id long, dim int, xq long"
_CENT = "cluster long, dim int, cs long, n long"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_equidistant_centroids_resolve_to_lower_cluster_id(spark):
    xq = spark.createDataFrame([(0, 0, 0), (0, 1, 0)], _XQ)
    # cluster 9 first, so row order cannot decide the tie
    cent = spark.createDataFrame(
        [(9, 0, 1, 1), (9, 1, 0, 1), (4, 0, 0, 1), (4, 1, 1, 1)], _CENT
    )
    got = _rows(nearest(sq_dists(xq, cent)), ["vec_id", "cluster", "dist"])
    assert got == [(0, 4, Decimal(1))]


def test_distances_above_2_pow_53_differing_by_one_order_exactly(spark):
    big = 10**8  # big² = 10¹⁶ > 2⁵³
    assert float(big * big + 1) == float(big * big)  # a double fold ties
    xq = spark.createDataFrame([(0, 0, 0), (0, 1, 0)], _XQ)
    cent = spark.createDataFrame(
        [
            (1, 0, big, 1), (1, 1, 1, 1),  # dist 10¹⁶ + 1
            (2, 0, big, 1), (2, 1, 0, 1),  # dist 10¹⁶
        ],
        _CENT,
    )
    dists = _rows(sq_dists(xq, cent), ["cluster", "dist"])
    assert dists == [(1, Decimal(big * big + 1)), (2, Decimal(big * big))]
    got = _rows(nearest(sq_dists(xq, cent)), ["vec_id", "cluster", "dist"])
    assert got == [(0, 2, Decimal(big * big))]


def test_subspace_key_keeps_subspaces_apart(spark):
    # one vector, four dims, two subspaces of two dims each
    xq = spark.createDataFrame(
        [(0, d, x) for d, x in enumerate([10, 10, 50, 50])], _XQ
    ).withColumn("subspace", F.expr("dim div 2"))
    # codeword 1 sits on subspace 0's values, codeword 2 on subspace 1's
    cent = spark.createDataFrame(
        [(1, d, x, 1) for d, x in enumerate([10, 10, 0, 0])]
        + [(2, d, x, 1) for d, x in enumerate([0, 0, 50, 50])],
        _CENT,
    )
    key = ("vec_id", "subspace")
    got = _rows(
        nearest(sq_dists(xq, cent, by=key), by=key),
        ["vec_id", "subspace", "cluster", "dist"],
    )
    assert got == [(0, 0, 1, Decimal(0)), (0, 1, 2, Decimal(0))]

