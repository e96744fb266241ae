"""Semantic invariants for the oracle-checked iterative algorithms
(q94 k-means refinement, q95 PageRank). Bit-parity with DuckDB is the
oracle gate's job; these tests pin the ALGORITHMIC properties that a
parity bug on both sides at once would not catch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_examples_spark.plans.registry import all_specs
from data_engineering_examples_spark.plans.similarity_queries import (
    CENT_IDS,
    DIM,
    KMEANS_SCALE,
)
from data_engineering_examples_spark.plans.dedup_queries import (
    PR_ITERS,
    PR_UNIT,
    q24_minhash_lsh_pairs,
)

from .conftest import SF_SMOKE


def test_kmeans_centroids_shape_and_membership(spark):
    rows = all_specs()["q94_kmeans_refine"].fn(spark, SF_SMOKE).collect()
    clusters = {r.cluster_id for r in rows}
    # every surviving cluster id is one of the seeds
    assert clusters <= set(CENT_IDS) and clusters
    # every cluster emits exactly DIM dims, each with a consistent size
    by_c = {}
    for r in rows:
        by_c.setdefault(r.cluster_id, []).append(r)
    n_vecs = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    )
    total = 0
    for c, rs in by_c.items():
        assert len(rs) == DIM
        sizes = {r.n_members for r in rs}
        assert len(sizes) == 1  # same membership count on every dim
        total += sizes.pop()
    # assignments partition the vector set
    assert total == n_vecs
    # centroid values stay inside the quantized data range
    assert all(abs(r.centroid) <= KMEANS_SCALE for r in rows)


def test_kmeans_matches_independent_python_reimplementation(spark):
    """Recompute the full quantized 2-iteration Lloyd refinement in plain
    Python (integer arithmetic, identical tie-break) and demand the Spark
    output match EXACTLY — an engine-independent second implementation,
    not a shared-oracle tautology."""
    import math

    vecs = {
        r.vec_id: [
            int(math.floor(float(x) * KMEANS_SCALE)) for x in r.embedding
        ]
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    # iteration state: cluster -> (per-dim integer sums, member count)
    cents = {c: (list(vecs[c]), 1) for c in CENT_IDS}

    def assign_all():
        out = {}
        for vid, v in vecs.items():
            best = None
            for c in sorted(cents):
                cs, n = cents[c]
                d = sum((n * x - s) ** 2 for x, s in zip(v, cs))
                if best is None or (d, c) < best[:2]:
                    best = (d, c)
            out[vid] = best[1]
        return out

    for _ in range(2):  # KMEANS_ITERS iterations: assign is run twice,
        a = assign_all()  # update after the first only
        new = {}
        for vid, c in a.items():
            cs, n = new.get(c, ([0] * DIM, 0))
            new[c] = ([s + x for s, x in zip(cs, vecs[vid])], n + 1)
        cents = new
    expected = {
        (c, d): (cs[d] / n, n) for c, (cs, n) in cents.items() for d in range(DIM)
    }

    rows = all_specs()["q94_kmeans_refine"].fn(spark, SF_SMOKE).collect()
    got = {(r.cluster_id, r.dim): (r.centroid, r.n_members) for r in rows}
    assert got == expected


def test_pagerank_ranks_bounded_and_degree_consistent(spark):
    out = all_specs()["q95_neardup_pagerank"].fn(spark, SF_SMOKE)
    rows = out.collect()
    pairs = q24_minhash_lsh_pairs(spark, SF_SMOKE)
    n_nodes = (
        pairs.select(F.col("doc_a").alias("d"))
        .union(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
        .count()
    )
    assert len(rows) == n_nodes
    for r in rows:
        # damping floor and integer-unit ceiling
        assert r.pagerank >= 0.15
        assert r.degree >= 1
    # total rank mass stays near n (PR conserves mass up to the damping
    # leak on the integer floor; wide bound, catches runaway arithmetic)
    mass = sum(r.pagerank for r in rows)
    assert 0.15 * n_nodes <= mass <= 2.0 * n_nodes


def test_pagerank_isolated_pair_symmetric_rank(spark, tmp_path):
    """Two documents forming an isolated mutual edge must end with equal
    ranks equal to the 1-node fixed point (r = 0.15 + 0.85·r ⇒ r → 1.0
    from r0 = 1.0 exactly at every iteration)."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["alpha beta gamma delta epsilon"] * 2,  # identical => LSH pair
            "lang": ["en", "en"],
            "source": ["t", "t"],
        }
    )
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = all_specs()["q95_neardup_pagerank"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.degree == 1
        assert abs(r.pagerank - 1.0) < 1e-9


def test_pq_codes_partition_vectors_and_seed_error_zero(spark):
    """Every vector contributes one code per subspace, and every seed's
    own subvector is perfectly reconstructed (its code is itself, error
    0), so per-(subspace, code) totals account for all vectors."""
    from data_engineering_examples_spark.plans.similarity_queries import N_SUBSPACES

    rows = all_specs()["q101_pq_codes"].fn(spark, SF_SMOKE).collect()
    n_vecs = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    per_sub = {}
    for r in rows:
        per_sub[r.subspace] = per_sub.get(r.subspace, 0) + r.n_vectors
        assert r.code in set(CENT_IDS)
        assert r.total_sq_error >= 0.0
    assert set(per_sub) == set(range(N_SUBSPACES))
    assert all(v == n_vecs for v in per_sub.values())


def test_hard_negatives_disjoint_from_neardups_and_banded(spark):
    """Mined negatives must sit strictly below the near-dup threshold —
    disjoint from q49's near-dup pairs — and respect per-probe top-k."""
    from data_engineering_examples_spark.plans.similarity_queries import (
        HARD_NEG_K,
        HARD_NEG_LO,
        NEARDUP_COS,
        N_PROBES,
    )

    negs = all_specs()["q106_hard_negatives"].fn(spark, SF_SMOKE).collect()
    assert negs  # mining found something at the smoke SF
    dups = {
        (r.vec_a, r.vec_b)
        for r in all_specs()["q49_embedding_neardup"].fn(spark, SF_SMOKE).collect()
    }
    per_probe = {}
    for r in negs:
        assert HARD_NEG_LO <= r.cosine < NEARDUP_COS
        assert r.probe_id < N_PROBES
        key = (min(r.probe_id, r.neighbor_id), max(r.probe_id, r.neighbor_id))
        assert key not in dups
        per_probe.setdefault(r.probe_id, []).append(r.rank)
    for ranks in per_probe.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= HARD_NEG_K


def test_embedding_drift_zero_for_mirrored_batches(spark, tmp_path):
    """If every even-id vector has an identical odd-id twin, the two
    batches are the same distribution and drift must be exactly 0."""
    import pandas as pd

    base = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    twins = []
    for r in base:
        twins.append((2 * r.vec_id, list(r.embedding)))
        twins.append((2 * r.vec_id + 1, list(r.embedding)))
    # keep seed ids present: CENT_IDS max 433 <= 2*499+1 ✓ (ids are dense)
    pdf = pd.DataFrame(twins, columns=["vec_id", "embedding"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    rows = all_specs()["q107_embedding_drift"].fn(spark, str(tmp_path)).collect()
    assert rows
    for r in rows:
        assert r.n_a == r.n_b
        assert r.drift_sq == 0.0


def test_cc_converges_past_round_hint_on_long_path(spark):
    """The r9 synthetic-sf1 sweep caught a fixed CC round budget
    silently truncating large-diameter components (q235 at 10× data).
    connected_components iterates to the FIXPOINT: a 200-node path
    graph (diameter 199) must converge to one component labeled by the
    minimum id."""
    from data_engineering_examples_spark.operators.graph import (
        connected_components,
    )

    n = 200
    nodes = spark.range(n).select(F.col("id"))
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    )
    got = {
        (r.id, r.cluster_id)
        for r in connected_components(
            nodes, edges, scratch_prefix="t_ccpath"
        ).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_cc_empty_graph_converges_immediately(spark):
    """A node set that comes out empty (no edge reached the threshold)
    must return an empty result, not burn the 64-round cap and raise —
    SUM over zero rows is NULL and the fixpoint probe must treat that
    as converged (r9 review finding)."""
    from data_engineering_examples_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.range(0).select(F.col("id"))
    edges = spark.createDataFrame([], "u long, v long")
    got = connected_components(
        nodes, edges, scratch_prefix="t_ccempty"
    ).collect()
    assert got == []


def test_cc_early_convergence_stops_after_two_rounds(spark):
    """r14: the fixpoint is probed after EVERY round (the label sum is
    observed on the round's own label write; a wasted post-fixpoint
    round is two joins + a full materialization).  A clique converges
    in round 0, round 1's write observes the unchanged sum, and NO
    round-2 label table may ever be built — the old probe-skip
    heuristic burned two extra rounds here."""
    from data_engineering_examples_spark import scratch
    from data_engineering_examples_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.range(3).select(F.col("id"))
    edges = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "u long, v long")
    got = {
        (r.id, r.cluster_id)
        for r in connected_components(
            nodes, edges, scratch_prefix="t_ccclique"
        ).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0)}
    assert "t_ccclique_labels_r1" in scratch._MATERIALIZE_GEN
    assert "t_ccclique_labels_r2" not in scratch._MATERIALIZE_GEN


def test_kcore_peels_long_tail_to_fixpoint(spark):
    """k_core peels until its edge count stops falling: a triangle with
    a 30-edge tail hanging off vertex 2 loses the whole tail (one tail
    edge per round, ~30 rounds) and keeps only the triangle, each vertex
    with in-core degree 2."""
    from data_engineering_examples_spark.operators.graph import k_core

    tri = [(0, 1), (1, 2), (0, 2)]
    tail = [(2 + i, 3 + i) for i in range(30)]
    edges = spark.createDataFrame(tri + tail, "u long, v long")
    got = {
        (r.u, r.core_deg)
        for r in k_core(edges, 2, scratch_prefix="t_kctail").collect()
    }
    assert got == {(0, 2), (1, 2), (2, 2)}


def test_kcore_empty_graph_returns_no_rows(spark):
    """An empty edge set is already at the fixpoint: no rows, no raise."""
    from data_engineering_examples_spark.operators.graph import k_core

    edges = spark.createDataFrame([], "u long, v long")
    assert k_core(edges, 2, scratch_prefix="t_kcempty").collect() == []


def test_kcore_triangle_stops_after_confirming_round(spark):
    """A triangle is its own 2-core: round 1's write observes the
    unchanged edge count, so no round-2 edge table is ever built."""
    from data_engineering_examples_spark import scratch
    from data_engineering_examples_spark.operators.graph import k_core

    edges = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "u long, v long")
    got = {
        (r.u, r.core_deg)
        for r in k_core(edges, 2, scratch_prefix="t_kctri").collect()
    }
    assert got == {(0, 2), (1, 2), (2, 2)}
    assert "t_kctri_edges_r1" in scratch._MATERIALIZE_GEN
    assert "t_kctri_edges_r2" not in scratch._MATERIALIZE_GEN


def test_semdedup_zero_norm_vector_fails_loudly_on_both_paths(spark, tmp_path):
    """A zero-norm embedding makes every cosine 0/0, and both SemDeDup
    variants must fail loudly on it rather than drop vectors (r9 review
    finding).  q231 raises Spark 4 ANSI's DIVIDE_BY_ZERO from the coarse
    assignment's centroid cosine, before its pair stage runs; q235
    reaches the shared pair kernel, whose guard raises ``ValueError``
    where numpy would quietly compute NaN and drop the pairs."""
    import pandas as pd
    import pytest as _pytest

    n = 30  # seeds are corpus-derived (K = ceil(sqrt(N))) — any N works
    rows = []
    for i in range(n):
        vec = [float((i % 5) + 1)] * 64  # 5 duplicate families, cos=1
        rows.append((i, vec))
    zero_id = n - 2
    rows[zero_id] = (zero_id, [0.0] * 64)  # the degenerate vector
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    sf = str(tmp_path)

    for qname in ("q231_semantic_dedup", "q235_semantic_dedup_learned"):
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
            all_specs()[qname].fn(spark, sf).count()


def test_cc_scratch_isolation_across_callers(spark):
    """Two different connected_components callers in ONE process must
    not overwrite each other's materialized label substrates: build
    BOTH query frames first (the second build eagerly rewrites its own
    scratch), then collect the FIRST — under shared scratch names this
    silently returned the second graph's labels (same schema, wrong
    data)."""
    df72 = all_specs()["q72_dedup_clusters"].fn(spark, SF_SMOKE)
    expected = {(r.doc_id, r.cluster_id) for r in df72.collect()}

    df72_deferred = all_specs()["q72_dedup_clusters"].fn(spark, SF_SMOKE)
    all_specs()["q131_patient_linkage"].fn(spark, SF_SMOKE).count()  # rewrites ITS scratch
    got = {(r.doc_id, r.cluster_id) for r in df72_deferred.collect()}
    assert got == expected

