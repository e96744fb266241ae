"""Distributed graph primitives shared by the dedup/linkage queries.

``connected_components`` is min-label propagation WITH pointer jumping:
each round every node adopts the minimum label in its neighborhood, then
jumps to its current label's label (path halving), so label distance to
the component minimum shrinks doubly-exponentially — O(log d) rounds for
diameter d, each round two key-partitioned shuffles (neighbor-min join +
jump join). ``k_core`` peels the vertices whose degree in the surviving
graph is below ``k``.

Both loops run by one rule: iterate to the fixpoint, and read the
convergence scalar off the round's OWN write.  Each round's frame is
materialized through the durable ``scratch.materialize`` seam (plan
depth stays O(1), and on a real cluster a lost executor replays one
round's file split, not the whole loop); an ``Observation`` on that
write folds a monotone one-row aggregate into the same job — the label
sum for CC, the edge count for k-core — so convergence costs no second
job and no driver fetch.  There is deliberately no caller-supplied
round count: a fixed count matched to the test fixture is NOT
scale-safe (the r9 synthetic-sf1 sweep caught 10× data producing
components whose diameter exceeded the 4-round budget q235 shipped
with).

Used by q72 (dedup clusters over exact+LSH edges), q131 (patient
record-linkage clusters) and q226 (perceptual image clusters) for CC,
and by q228 (the near-dup 2-core) for k-core; each caller's
recursive-CTE oracle checks the fixpoint result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..scratch import materialize


#: Hard cap on CC iterations.  Min-label propagation with pointer
#: jumping roughly halves the label-tree depth per round, so 64 rounds
#: covers any graph that fits in an int64 id space; hitting the cap
#: means the iteration is broken, not the graph big.
_CC_MAX_ROUNDS = 64


def _materialize_observed(df: DataFrame, name: str, metric: Column):
    """Materialize ``df`` and return ``(frame, value)``, where ``value``
    is the one-row aggregate ``metric`` computed by the write itself."""
    obs = Observation()
    frame = materialize(df.observe(obs, metric.alias("v")), name)
    return frame, obs.get["v"]


def _bidir(edges: DataFrame) -> DataFrame:
    """Both directions of each ``(u, v)`` edge.  explode, not
    self-union: a union evaluates the caller's edge plan TWICE (and the
    edge list often comes out of an expensive candidate pipeline — q72's
    exact-hash and LSH edge union, q131's blocked self-join); the
    two-struct explode emits both directions from a SINGLE evaluation."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


def connected_components(
    nodes: DataFrame, edges: DataFrame, scratch_prefix: str = "cc"
) -> DataFrame:
    """``nodes``: one column ``id``; ``edges``: columns ``u``, ``v``
    (one direction suffices — both are added here). Returns
    ``(id, cluster_id)`` where ``cluster_id`` is the component's minimum
    node id.

    Iterates TO CONVERGENCE: each round's label write observes the exact
    DECIMAL sum of the labels it writes.  Labels only ever decrease, so
    the sum is strictly monotone and "sum unchanged" == "no label moved"
    == converged; a small-diameter near-dup clique stops after the round
    that confirms it.  The sum is coalesced to 0 because SUM over ZERO
    rows is NULL: an empty node set (no edge reaches the threshold) must
    converge immediately, not burn the cap and raise.

    ``scratch_prefix`` keys this caller's materialized substrates: two
    DIFFERENT callers in one process (doc dedup, patient linkage) must
    pass distinct prefixes, else building the second query's plan
    overwrites the first's still-unread scratch parquet and a deferred
    collect silently reads the wrong graph's labels. Repeated
    invocations of the SAME caller intentionally reuse the paths (the
    scratch module's wipe-per-call space-reuse contract)."""
    bidir = materialize(_bidir(edges), f"{scratch_prefix}_edges")
    label_sum = F.coalesce(
        F.sum(F.col("label").cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
    )
    labels = nodes.select(F.col("id"), F.col("id").alias("label"))
    prev_sum = None
    for rnd in range(_CC_MAX_ROUNDS):
        neighbour_min = (
            bidir.join(labels, bidir.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        # least() skips NULLs, so isolated nodes keep their own label
        labels = labels.join(
            neighbour_min, labels.id == neighbour_min.u, "left"
        ).select("id", F.least("label", "nlabel").alias("label"))
        # pointer jump: adopt the label of the current label's node
        parents = labels.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        labels, cur_sum = _materialize_observed(
            labels.join(parents, labels.label == parents.pid).select(
                "id", F.col("plabel").alias("label")
            ),
            f"{scratch_prefix}_labels_r{rnd}",
            label_sum,
        )
        if cur_sum == prev_sum:
            return labels.groupBy("id").agg(F.min("label").alias("cluster_id"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge within {_CC_MAX_ROUNDS} "
        f"rounds (scratch_prefix={scratch_prefix!r}) — monotone min-label "
        "propagation with pointer jumping must fix within log2(id-space); "
        "this indicates a broken edge table, not a large graph"
    )


def k_core(edges: DataFrame, k: int, scratch_prefix: str = "kcore") -> DataFrame:
    """k-core peeling to the fixpoint: repeatedly drop the edges with an
    endpoint whose degree in the SURVIVING graph is < ``k``. ``edges``:
    columns ``u``, ``v`` (one direction; both are added here). Returns
    ``(u, core_deg)`` — the vertices of the k-core with their final
    in-core degree.  Used by q228.

    Each round's edge write observes its own row count; the count can
    only fall, so the peel stops at the first round that leaves it
    unchanged, within |E| rounds.  (No log-depth cap applies: a 2-core
    peel of a chain of L edges takes about L/2 rounds.)

    Scale shape: each round is one map-side-combinable degree count
    plus two hash joins of the (monotonically shrinking) edge set
    against the survivor set, all partitioned on the join key."""
    rows = F.count(F.lit(1))
    cur, n = _materialize_observed(
        _bidir(edges).distinct(), f"{scratch_prefix}_edges_r0", rows
    )
    rnd, prev = 0, None
    while n != prev:
        rnd, prev = rnd + 1, n
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= k).select("u")
        cur, n = _materialize_observed(
            cur.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v"),
            f"{scratch_prefix}_edges_r{rnd}",
            rows,
        )
    return cur.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
