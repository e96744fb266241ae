"""Distributed graph primitives shared by the dedup/linkage queries.

``connected_components`` is min-label propagation WITH pointer jumping:
each round every node adopts the minimum label in its neighborhood, then
jumps to its current label's label (path halving), so label distance to
the component minimum shrinks doubly-exponentially — O(log d) rounds for
diameter d, each round two key-partitioned shuffles (neighbor-min join +
jump join). The edge set is checkpointed by the CALLER (it usually comes
out of an expensive candidate-generation pipeline); the label frame is
materialized here per round to keep the plan from deepening — through
the durable ``scratch.materialize`` seam, so on a real cluster each
round's labels sit on storage that survives executor loss (an O(log d)
iterative job that loses all progress on one lost executor is not a
cluster algorithm).

Used by q72 (dedup clusters over exact+LSH edges), q131 (patient
record-linkage clusters) and q226 (perceptual image clusters); the loop
runs to its probed fixpoint, and the callers' recursive-CTE oracles
check the resulting components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scratch import materialize


#: Hard cap on CC iterations.  Min-label propagation with pointer
#: jumping roughly halves the label-tree depth per round, so 64 rounds
#: covers any graph that fits in an int64 id space; hitting the cap
#: means the iteration is broken, not the graph big.
_CC_MAX_ROUNDS = 64



def connected_components(
    nodes: DataFrame, edges: DataFrame, scratch_prefix: str = "cc"
) -> DataFrame:
    """``nodes``: one column ``id``; ``edges``: columns ``u``, ``v``
    (one direction suffices — both are added here). Returns
    ``(id, cluster_id)`` where ``cluster_id`` is the component's minimum
    node id.

    Iterates TO CONVERGENCE, probing the fixpoint after EVERY round:
    the probe is a one-row, map-side-combinable scalar aggregate over
    the label table the round just materialized onto scratch storage —
    a small fraction of one round's cost at any scale — while every
    round run past the fixpoint pays two joins plus a full label
    materialization.  (r13/r14 profiling measured the old probe-skip
    heuristic wasting two full post-fixpoint rounds on every
    early-converging graph: dedup/near-dup graphs are small-diameter
    cliques that fix by round 1-2 — q226 ran 45 jobs for 1.5
    executor-seconds of real work.)  Labels only ever decrease, so the
    exact DECIMAL sum is strictly monotone and "sum unchanged" == "no
    label moved" == converged.  There is deliberately no caller-supplied
    round count: a fixed count matched to the test fixture is NOT
    scale-safe — the r9 synthetic-sf1 sweep caught exactly that (10×
    data produced components whose diameter exceeded the 4-round budget
    q235 shipped with, and the full-closure oracle flagged the truncated
    labels).  The one-row fetch per round is a convergence gate, not a
    data path (same category as q150's audit verdict fetch; pinned in
    test_plan_invariants).

    ``scratch_prefix`` keys this caller's materialized substrates: two
    DIFFERENT callers in one process (doc dedup, patient linkage) must
    pass distinct prefixes, else building the second query's plan
    overwrites the first's still-unread scratch parquet and a deferred
    collect silently reads the wrong graph's labels. Repeated
    invocations of the SAME caller intentionally reuse the paths (the
    scratch module's wipe-per-call space-reuse contract)."""
    # explode, not self-union: a union evaluates the caller's edge plan
    # TWICE inside the one materialization job (and the edge list often
    # comes out of an expensive candidate pipeline — q72's exact-hash
    # and LSH edge union, q131's blocked self-join); the two-struct
    # explode emits both directions from a SINGLE evaluation (guide §2.4).
    bidir = materialize(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v"),
        f"{scratch_prefix}_edges",
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
        labels = materialize(
            labels.join(parents, labels.label == parents.pid).select(
                "id", F.col("plabel").alias("label")
            ),
            f"{scratch_prefix}_labels_r{rnd}",
        )
        # coalesce: SUM over ZERO rows is NULL, and None == None never
        # fires the equality guard — an empty node set (no edge reaches
        # the threshold) must converge immediately, not burn the cap
        # and raise.  Conflating NULL with 0 is safe: the test is
        # "unchanged between rounds", and an empty table stays empty.
        cur_sum = (
            labels.agg(
                F.coalesce(
                    F.sum(F.col("label").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("s")
            ).first()
        ).s
        if prev_sum is not None and cur_sum == prev_sum:
            return labels.groupBy("id").agg(F.min("label").alias("cluster_id"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge within {_CC_MAX_ROUNDS} "
        f"rounds (scratch_prefix={scratch_prefix!r}) — monotone min-label "
        "propagation with pointer jumping must fix within log2(id-space); "
        "this indicates a broken edge table, not a large graph"
    )


def k_core(edges: DataFrame, k: int, rounds: int, scratch_prefix: str = "kcore") -> DataFrame:
    """Bounded-round k-core peeling: repeatedly drop vertices whose
    degree in the SURVIVING graph is < ``k``. ``edges``: columns
    ``u``, ``v`` (one direction; both are added here). Returns
    ``(u, core_deg)`` — the vertices of the k-core with their final
    in-core degree. ``rounds`` bounds the peel; callers pair it with an
    oracle that unrolls the SAME number of rounds, so an insufficient
    bound changes both engines identically (and the fixture rounds are
    chosen at fixpoint — verified by the paired oracle, not assumed).

    Scale shape: each round is one map-side-combinable degree count
    plus two hash joins of the (monotonically shrinking) edge set
    against the survivor set, all partitioned on the join key; each
    round's edge set is materialized through the durable scratch seam,
    so plan depth stays O(1) and a lost executor replays one round's
    file split, not the whole peel."""
    # explode, not self-union — single evaluation of the caller's edge
    # plan (same rationale as connected_components' bidir above)
    cur = materialize(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct(),
        f"{scratch_prefix}_edges_r0",
    )
    for rnd in range(rounds):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= k).select("u")
        cur = materialize(
            cur.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v"),
            f"{scratch_prefix}_edges_r{rnd + 1}",
        )
    return cur.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
