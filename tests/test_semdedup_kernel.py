"""The SemDeDup pair kernel (``similarity_queries._semdedup_edges``).

One grouped Arrow kernel emits every within-cluster cosine edge for the
coarse family (q231, q246, q260) and the learned one (q235).

* On one cluster large enough to span three 512-row screen blocks, its
  (u, v, cos_sim) rows equal a pure-Python left-fold cosine bit for
  bit, including planted near-duplicates that straddle block
  boundaries.
* Over a zero-row embeddings table all four consumers return no rows.
"""

from __future__ import annotations

import math
import os
import random

from data_engineering_examples_spark.plans import all_specs
from data_engineering_examples_spark.plans.similarity_queries import (
    DIM,
    SEMDEDUP_COS,
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
