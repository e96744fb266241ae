"""The SemDeDup kernels (``similarity_queries._semdedup_edges`` and
``_semdedup_closure``), which share one pair screen.

``_semdedup_edges`` emits every within-cluster cosine edge for q246 and
q260; ``_semdedup_closure`` runs q231's and q235's pairs, components
and keep rule in one grouped kernel.

* On one cluster large enough to span three 512-row screen blocks, the
  edge kernel's (u, v, cos_sim) rows equal a pure-Python left-fold
  cosine bit for bit, including planted near-duplicates that straddle
  block boundaries.
* On hand-built clusters the closure kernel's rows equal the
  composition it replaces (edges → ``connected_components`` → keep
  window): a long path, two components, a ``dist`` tie, two ``dist``
  values above 2⁵³ one apart, and a cluster with no pair.  Each case
  runs in q235's shape (a Decimal ``dist`` kept largest) and in q231's
  (a double ``cent_cos`` kept lowest through ``key = -cent_cos``).
* q231 and q235 materialize no edge or label table.
* Over a zero-row embeddings table all four consumers return no rows.
"""

from __future__ import annotations

import math
import os
import random
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineering_examples_spark import scratch
from data_engineering_examples_spark.operators.graph import connected_components
from data_engineering_examples_spark.plans import all_specs
from data_engineering_examples_spark.plans.similarity_queries import (
    DIM,
    SEMDEDUP_COS,
    _semdedup_closure,
    _semdedup_edges,
)
from data_engineering_examples_spark.sources.tables import TABLES

from .conftest import SF_SMOKE


def _fold(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_kernel_matches_python_left_fold_across_blocks(spark):
    n = 1100  # three screen blocks: 512 + 512 + 76 rows
    rng = random.Random(20231)
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(n)]
    # near-duplicates straddling the block edges at rows 512 and 1024,
    # the first/last rows, and random partners across the whole cluster
    planted = [(511, 512), (1023, 1024), (0, 1099), (100, 700), (510, 1030)]
    partners = list(range(n))
    rng.shuffle(partners)
    planted += [
        (partners[i], partners[i + 1])
        for i in range(0, 60, 2)
        if {partners[i], partners[i + 1]}.isdisjoint(x for p in planted for x in p)
    ]
    for src, dst in planted:
        vecs[dst] = [x + rng.gauss(0.0, 0.05) for x in vecs[src]]
    # ids run opposite to row order, so u < v is the kernel's doing
    ids = [10_000 - i for i in range(n)]
    nrm = [math.sqrt(_fold(v, v)) for v in vecs]
    m = spark.createDataFrame(
        [(ids[i], 7, vecs[i], nrm[i]) for i in range(n)],
        "vec_id long, cluster long, e array<double>, nrm double",
    ).coalesce(1)

    rows = _semdedup_edges(m, SEMDEDUP_COS).collect()
    got = {(r.u, r.v): r.cos_sim for r in rows}
    assert len(got) == len(rows), "duplicate pairs"
    assert all(u < v for u, v in got)

    expected = {}
    for i in range(n):
        for j in range(i + 1, n):
            cos = _fold(vecs[i], vecs[j]) / (nrm[i] * nrm[j])
            if cos >= SEMDEDUP_COS:
                expected[(min(ids[i], ids[j]), max(ids[i], ids[j]))] = cos
    for src, dst in planted:
        assert (min(ids[src], ids[dst]), max(ids[src], ids[dst])) in expected
    assert got == expected


def _frame(spark, rows, shape):
    """``m`` for the closure kernel from (vec_id, cluster, dist, vec), in
    q235's shape (``key`` is the Decimal ``dist``) or q231's (``key`` is
    ``-cent_cos``, a double that falls as ``dist`` rises, through zero,
    and is equal on equal ``dist``)."""
    nrm = {i: math.sqrt(_fold(v, v)) for i, _, _, v in rows}
    if shape == "q235":
        return spark.createDataFrame(
            [(i, c, Decimal(d), v, nrm[i]) for i, c, d, v in rows],
            "vec_id long, cluster long, key decimal(38,0), e array<double>, "
            "nrm double",
        )
    rank = {d: r for r, d in enumerate(sorted({d for _, _, d, _ in rows}))}
    return spark.createDataFrame(
        [(i, c, 1.0 - rank[d] / 64, v, nrm[i]) for i, c, d, v in rows],
        "vec_id long, cluster long, cent_cos double, e array<double>, nrm double",
    ).withColumn("key", -F.col("cent_cos"))


def _cc_composition(m, shape):
    """The tail the closure kernel replaced: edges, then
    ``connected_components``, then the caller's keep window (q235:
    ``dist DESC``; q231: ``cent_cos ASC``; ties to the lower vec_id)."""
    edges = _semdedup_edges(m, SEMDEDUP_COS).select("u", "v")
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    cc = connected_components(nodes, edges, scratch_prefix="test_semdedup_cc")
    order = F.desc("key") if shape == "q235" else F.asc("cent_cos")
    w_keep = Window.partitionBy("component").orderBy(order, F.asc("vec_id"))
    return (
        cc.select(F.col("id").alias("vec_id"), F.col("cluster_id").alias("component"))
        .join(m.drop("e", "nrm"), "vec_id")
        .select(
            "vec_id",
            F.col("cluster").alias("cluster_id"),
            "component",
            (F.row_number().over(w_keep) == 1).alias("keep"),
        )
    )


def _closure_rows(spark, rows):
    """The kernel's rows over both callers' shapes of ``rows``, each
    asserted equal to its CC composition's; the two shapes agree."""
    got = {}
    for shape in ("q235", "q231"):
        m = _frame(spark, rows, shape)
        got[shape] = sorted(map(tuple, _semdedup_closure(m, SEMDEDUP_COS).collect()))
        assert got[shape] == sorted(map(tuple, _cc_composition(m, shape).collect()))
    assert got["q231"] == got["q235"]
    return got["q235"]


def _unit(dim, *hot):
    return [1.0 if d in hot else 0.0 for d in range(dim)]


def test_closure_follows_a_long_path(spark):
    # v_k = e_k + e_{k+1}: neighbours have cosine 1/2, every other pair 0,
    # so the one component has diameter n - 1 and only neighbours pass
    n = 121
    ids = list(range(1000, 1000 + n))
    random.Random(5).shuffle(ids)  # the least id sits mid-path
    rows = [(ids[k], 3, 10 * k, _unit(n + 1, k, k + 1)) for k in range(n)]
    got = _closure_rows(spark, rows)
    assert len(got) == n
    assert {r[2] for r in got} == {min(ids)}
    assert [r[0] for r in got if r[3]] == [ids[-1]]  # the largest dist


def test_closure_separates_two_components_in_one_cluster(spark):
    # two near-duplicate families on orthogonal axes, plus loners
    rows = [(i, 9, i, _unit(DIM, 0, 10 + i)) for i in (4, 2, 7)]
    rows += [(i, 9, 100 - i, _unit(DIM, 1, 10 + i)) for i in (5, 3, 8)]
    rows += [(i, 9, 0, _unit(DIM, 10 + i)) for i in (1, 6)]
    got = _closure_rows(spark, rows)
    assert {r[0]: r[2] for r in got} == {2: 2, 4: 2, 7: 2, 3: 3, 5: 3, 8: 3}
    assert sorted(r[0] for r in got if r[3]) == [3, 7]


def test_closure_breaks_a_dist_tie_to_the_lower_id(spark):
    rows = [(i, 1, d, _unit(DIM, 0, 10 + i)) for i, d in ((8, 50), (6, 70), (9, 70))]
    got = _closure_rows(spark, rows)
    assert [r[0] for r in got if r[3]] == [6]


def test_closure_orders_dists_above_2_pow_53_exactly(spark):
    big = 2**60  # big and big + 1 are one double
    assert float(big) == float(big + 1)
    rows = [(1, 1, big, _unit(DIM, 0, 10)), (2, 1, big + 1, _unit(DIM, 0, 11))]
    got = _closure_rows(spark, rows)
    assert [r[0] for r in got if r[3]] == [2]


def test_closure_emits_nothing_for_a_cluster_without_pairs(spark):
    rows = [(i, 4, i, _unit(DIM, i)) for i in range(6)]
    assert _closure_rows(spark, rows) == []


@pytest.mark.parametrize(
    "name", ["q231_semantic_dedup", "q235_semantic_dedup_learned"]
)
def test_semdedup_materializes_no_edge_or_label_table(spark, name):
    assert all_specs()[name].fn(spark, SF_SMOKE).collect()
    q = name.split("_")[0]
    names = set(scratch._MATERIALIZE_GEN)
    assert not {n for n in names if n == f"{q}_edges" or n.startswith(f"{q}_cc")}


def test_semdedup_family_returns_no_rows_on_empty_embeddings(spark, tmp_path):
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(0).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    for name in (
        "q231_semantic_dedup",
        "q235_semantic_dedup_learned",
        "q246_paraphrase_candidates",
        "q260_semdedup_threshold_sweep",
    ):
        assert all_specs()[name].fn(spark, str(tmp_path)).collect() == [], name
