"""Behavioral tests for the round-7 additions (q218-q221): structural
properties the value-hash oracle compare can't see — HLL estimate
accuracy and register-algebra bounds, compaction bin-pack invariants,
z-order extent/skipping guarantees, power-iteration eigenvector
alignment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_examples_spark.plans.registry import all_specs
from data_engineering_examples_spark.sources.tables import load_tables

SF = "/root/testdata/sf0.001"


def test_hll_register_algebra_and_estimate_accuracy(spark):
    from data_engineering_examples_spark.plans.sketch_queries import (
        HLL_M,
        HLL_REM_BITS,
    )

    rows = all_specs()["q218_hll_distinct"].fn(spark, SF).collect()
    assert rows, "no groups"
    for r in rows:
        n_present = HLL_M - r.v_zero
        assert 0 <= r.v_zero < HLL_M  # at least one register fires
        # rho in [1, REM_BITS+1] => sum/max bounds follow
        assert 1 <= r.max_rho <= HLL_REM_BITS + 1
        assert n_present <= r.sum_rho <= n_present * (HLL_REM_BITS + 1)
        assert r.exact_distinct >= 1
        # HLL with m=64 has ~13% standard error; at 3 sigma the raw
        # estimate (no bias correction) must land within 40% for groups
        # big enough that linear counting doesn't apply
        if r.exact_distinct >= 200:
            err = abs(r.est_distinct - r.exact_distinct) / r.exact_distinct
            assert err < 0.40, (r.event_type, r.est_distinct, r.exact_distinct)

    # the exact column must agree with a direct COUNT(DISTINCT)
    ev = load_tables(spark, SF, ["events"])["events"]
    truth = {
        row.event_type: row.d
        for row in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert {r.event_type: r.exact_distinct for r in rows} == truth


def test_compaction_plan_binpack_invariants(spark):
    from data_engineering_examples_spark.plans.analytics import (
        Q219_FILES,
        Q219_GROUPS,
    )

    rows = all_specs()["q219_compaction_plan"].fn(spark, SF).collect()
    ev = load_tables(spark, SF, ["events"])["events"]
    n = ev.count()
    target = n // Q219_GROUPS + 1

    # losslessness: every file lands in exactly one group
    assert sum(r.n_files for r in rows) == Q219_FILES
    assert sum(r.total_rows for r in rows) == n
    # group ids are the contiguous prefix 0..k
    ids = sorted(r.group_id for r in rows)
    assert ids == list(range(len(ids)))
    for r in rows:
        assert r.min_file_rows <= r.max_file_rows
        # running-total binning: a group holds the files whose cumulative
        # start falls in [g*t, (g+1)*t), so it can overshoot the target
        # by at most one file
        assert r.total_rows < target + r.max_file_rows
    # per-file counts are exactly the event_id % 64 bucket counts (the
    # landing is hash-bucketed — deterministic at any split layout)
    buckets = sorted(
        r["count"]
        for r in ev.groupBy(F.pmod(F.col("event_id"), F.lit(Q219_FILES)))
        .count()
        .collect()
    )
    assert min(r.min_file_rows for r in rows) == buckets[0]
    assert max(r.max_file_rows for r in rows) == buckets[-1]


def test_zorder_extents_and_skipping(spark):
    from data_engineering_examples_spark.plans.analytics import (
        Q220_BAND_HI,
        Q220_BAND_LO,
    )

    rows = all_specs()["q220_zorder_layout"].fn(spark, SF).collect()
    orders = load_tables(spark, SF, ["orders"])["orders"]
    assert sum(r.n_rows for r in rows) == orders.count()
    for r in rows:
        assert 0 <= r.z_file < 256
        assert 0 <= r.min_x8 <= r.max_x8 < 256
        assert 0 <= r.min_y8 <= r.max_y8 < 256
        assert r.touched == (
            r.max_x8 >= Q220_BAND_LO and r.min_x8 < Q220_BAND_HI
        )
        # a z-range of 256 Morton codes (z >> 8 fixed) spans at most a
        # 16x16 grid tile in each dimension — the clustering guarantee
        # that makes skipping work
        assert r.max_x8 - r.min_x8 <= 16
        assert r.max_y8 - r.min_y8 <= 16
    # the point of z-order: the customer-band predicate must NOT touch
    # every file (a date-linear layout would touch all of them)
    touched = sum(1 for r in rows if r.touched)
    assert 0 < touched < len(rows)
    # the 32/256-wide band should touch roughly 1/8 of the z-files;
    # allow generous slack for population gaps
    assert touched <= len(rows) // 2


def test_power_iteration_converges_to_eigenvector(spark):
    import math

    from data_engineering_examples_spark.plans.similarity_queries import (
        DIM,
        PI_SCALE,
    )

    rows = all_specs()["q221_embedding_power_iteration"].fn(spark, SF).collect()
    assert len(rows) == DIM
    v = {r.dim: r.v_milli for r in rows}
    scale = rows[0].norm_scale
    assert scale > 0
    assert all(r.norm_scale == scale for r in rows)
    # normalization contract: the largest |component| is exactly +-1000
    assert max(abs(x) for x in v.values()) == PI_SCALE

    # after 3 power steps v must be near the dominant eigenvector:
    # cos(Av, v) ~ 1.  Rebuild the Gram matrix in-process from the same
    # quantization and check the alignment in floats (test-only math).
    emb = load_tables(spark, SF, ["embeddings"])["embeddings"].collect()
    xq = [
        [math.floor(float(x) * PI_SCALE) for x in r.embedding] for r in emb
    ]
    a = [[0] * DIM for _ in range(DIM)]
    for row in xq:
        for j in range(DIM):
            if row[j]:
                for k in range(DIM):
                    a[j][k] += row[j] * row[k]
    av = [sum(a[j][k] * v[k] for k in range(DIM)) for j in range(DIM)]
    dot = sum(av[j] * v[j] for j in range(DIM))
    na = math.sqrt(sum(x * x for x in av))
    nv = math.sqrt(sum(x * x for x in v.values()))
    # the floor catches mis-wired Gram/iteration plumbing (cos ~0.3-0.8),
    # not convergence rate: the sf0.001 corpus (n=50) has a small
    # spectral gap, so 6 steps land ~0.997, not 1-1e-6
    assert dot / (na * nv) > 0.99, "v is not aligned with Av"


def test_cuped_matches_python_recompute(spark):
    """q227: exact Python recompute of the CUPED math from raw events at
    sf0.001 — pins arm assignment, milli-unit flooring, the pooled
    theta, and each arm's adjusted mean, not just internal consistency.
    """
    import hashlib
    import math
    from collections import defaultdict

    rows = all_specs()["q227_cuped_adjustment"].fn(spark, SF).collect()
    assert {r.arm for r in rows} == {0, 1}
    ev = load_tables(spark, SF, ["events"])["events"].collect()
    split = "2024-01-16 00:00:00"
    xs: dict = defaultdict(int)
    ys: dict = defaultdict(int)
    users = set()
    for e in ev:
        users.add(e.user_id)
        mv = math.floor(e.value * 1000)
        if str(e.ts) < split:
            xs[e.user_id] += mv
        elif e.event_type == "purchase":
            ys[e.user_id] += mv
    arm_of = {
        u: int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 2
        for u in users
    }
    n = len(users)
    sx = sum(xs[u] for u in users)
    sy = sum(ys[u] for u in users)
    sxy = sum(xs[u] * ys[u] for u in users)
    sxx = sum(xs[u] * xs[u] for u in users)
    syy = sum(ys[u] * ys[u] for u in users)
    cov_num = float(n) * float(sxy) - float(sx) * float(sy)
    varx_num = float(n) * float(sxx) - float(sx) * float(sx)
    vary_num = float(n) * float(syy) - float(sy) * float(sy)
    theta = cov_num / varx_num
    assert {r.theta_micros for r in rows} == {math.floor(theta * 1e6)}
    rho2 = (cov_num * cov_num) / (varx_num * vary_num)
    assert {r.var_reduction_micros for r in rows} == {math.floor(rho2 * 1e6)}
    assert 0 <= rho2 <= 1
    for r in rows:
        arm_users = [u for u in users if arm_of[u] == r.arm]
        assert r.n_users == len(arm_users)
        mean_y = sum(ys[u] for u in arm_users) / len(arm_users)
        mean_x = sum(xs[u] for u in arm_users) / len(arm_users)
        adj = mean_y - theta * (mean_x - sx / n)
        assert r.mean_y_micros == math.floor(mean_y * 1000.0)
        assert r.mean_y_cuped_micros == math.floor(adj * 1000.0)


def test_kcore_matches_python_fixpoint(spark):
    """q228: the peel must equal a Python fixpoint 2-core at fixture
    scale, and every reported degree is the in-core degree.
    """
    from collections import defaultdict

    pairs = (
        all_specs()["q24_minhash_lsh_pairs"].fn(spark, SF).collect()
    )
    adj = defaultdict(set)
    for p in pairs:
        adj[p.doc_a].add(p.doc_b)
        adj[p.doc_b].add(p.doc_a)
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < 2}
        if not drop:
            break
        alive -= drop
    rows = all_specs()["q228_neardup_kcore"].fn(spark, SF).collect()
    got = {r.doc_id: r.core_deg for r in rows}
    assert set(got) == alive
    for v in alive:
        assert got[v] == len(adj[v] & alive)
        assert got[v] >= 2


def test_twopass_quantiles_match_sorted_truth(spark):
    """q229: per-source P50/P90/P99 equal the rank-definition values
    from a plain Python sort; every (source, pct) pair is present
    exactly once.
    """
    docs = load_tables(spark, SF, ["documents"])["documents"].collect()
    from collections import defaultdict

    by_src = defaultdict(list)
    for d in docs:
        by_src[d.source].append((d.n_chars, d.doc_id))
    rows = all_specs()["q229_twopass_quantiles"].fn(spark, SF).collect()
    seen = {(r.source, r.pct) for r in rows}
    assert seen == {(s, p) for s in by_src for p in (50, 90, 99)}
    for r in rows:
        vals = sorted(by_src[r.source])
        n = len(vals)
        assert r.n_rows == n
        rank = (r.pct * n + 99) // 100
        assert r.q_value == vals[rank - 1][0]


def test_embedding_dim_stats_python_recompute(spark):
    """q230: per-dim mean/variance/share recomputed exactly in Python
    (same micro-quantization, same float expression order) at sf0.001;
    shares are a partition of ~1e6 (up to per-dim floor loss).
    """
    import math

    emb = load_tables(spark, SF, ["embeddings"])["embeddings"].collect()
    dims = len(emb[0].embedding)
    cols = {d: [math.floor(float(r.embedding[d]) * 1000000) for r in emb]
            for d in range(dims)}
    rows = all_specs()["q230_embedding_dim_stats"].fn(spark, SF).collect()
    assert {r.dim for r in rows} == set(range(dims))
    var_nums = {}
    for d in range(dims):
        n, s = float(len(cols[d])), float(sum(cols[d]))
        ss = float(sum(v * v for v in cols[d]))
        var_nums[d] = n * ss - s * s
    tot = sum(var_nums.values())
    for r in rows:
        vals = cols[r.dim]
        n, s = float(len(vals)), float(sum(vals))
        assert r.n_vectors == len(vals)
        assert r.mean_micros == math.floor(s / n)
        assert r.var_micros == math.floor(var_nums[r.dim] / (n * n) / 1e6)
        assert r.var_share_micros == math.floor(var_nums[r.dim] / tot * 1e6)
    share_sum = sum(r.var_share_micros for r in rows)
    assert 1000000 - dims <= share_sum <= 1000000

def test_semdedup_matches_python_recompute(spark):
    """q231: full Python recompute of the SemDeDup pipeline at sf0.001 —
    centroid assignment (cosine argmax, cent_id tiebreak), within-cluster
    threshold edges, transitive-closure components (proving the bounded
    round count converged), and the keep-lowest-centroid-cosine rule.
    """
    import hashlib
    import math
    from collections import defaultdict

    from data_engineering_examples_spark.plans.similarity_queries import (
        SEMDEDUP_COS,
    )

    emb = load_tables(spark, SF, ["embeddings"])["embeddings"].collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb}
    nrm = {i: math.sqrt(sum(x * x for x in v)) for i, v in vecs.items()}

    def cos(a, b):
        return sum(x * y for x, y in zip(vecs[a], vecs[b])) / (nrm[a] * nrm[b])

    # corpus-relative seeds (r12): K = ceil(sqrt(N)), md5-ranked —
    # independent recompute of _semdedup_seed_frame
    k = math.ceil(math.sqrt(len(vecs)))
    seed_ids = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:k]

    assign, cent_cos = {}, {}
    for i in vecs:
        best = max(
            seed_ids, key=lambda c: (cos(i, c), -c)
        )
        assign[i] = best
        cent_cos[i] = cos(i, best)
    clusters = defaultdict(list)
    for i, c in assign.items():
        clusters[c].append(i)
    adj = defaultdict(set)
    for c, members in clusters.items():
        ms = sorted(members)
        for ai in range(len(ms)):
            for bi in range(ai + 1, len(ms)):
                # tolerance-free threshold is fine here: the fixture has
                # no pair sitting within float-noise of the cut
                if cos(ms[ai], ms[bi]) >= SEMDEDUP_COS:
                    adj[ms[ai]].add(ms[bi])
                    adj[ms[bi]].add(ms[ai])
    comp = {}
    for start in sorted(adj):
        if start in comp:
            continue
        stack, seen = [start], {start}
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        label = min(seen)
        for x in seen:
            comp[x] = label

    rows = all_specs()["q231_semantic_dedup"].fn(spark, SF).collect()
    assert {r.vec_id for r in rows} == set(comp), "dup-group membership"
    by_comp = defaultdict(list)
    for r in rows:
        assert r.cent_id == assign[r.vec_id]
        assert r.component == comp[r.vec_id]
        assert abs(r.cent_cos - cent_cos[r.vec_id]) < 1e-12
        by_comp[r.component].append(r)
    for label, members in by_comp.items():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1, "exactly one keeper per group"
        want = min(members, key=lambda r: (cent_cos[r.vec_id], r.vec_id))
        assert keepers[0].vec_id == want.vec_id
        assert len(members) >= 2, "singletons are not dup groups"

def test_quality_classifier_matches_python_recompute(spark):
    """q232: exact Python recompute of the hashed linear head at
    sf0.001 — same md5 bucketing, same literal weights — plus the
    verdict split is non-degenerate (both keep classes occur).
    """
    import hashlib

    from data_engineering_examples_spark.plans.text_queries import (
        Q232_BUCKETS,
        Q232_KEEP_MICROS,
        Q232_WEIGHTS,
    )

    docs = load_tables(spark, SF, ["documents"])["documents"].collect()
    want = {}
    for d in docs:
        toks = d.text.split(" ")
        score = 0
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % Q232_BUCKETS
            score += Q232_WEIGHTS[b]
        want[d.doc_id] = (len(toks), score, score >= Q232_KEEP_MICROS)

    rows = all_specs()["q232_quality_classifier"].fn(spark, SF).collect()
    got = {r.doc_id: (r.n_tokens, r.score_micros, r.keep) for r in rows}
    assert got == want
    verdicts = {v[2] for v in got.values()}
    assert verdicts == {True, False}, "threshold should split the corpus"

def test_interval_bucket_join_matches_bruteforce(spark):
    """q233: the bucket-blocked interval join must find exactly the
    matches a brute-force O(sessions x events) containment scan finds —
    the cover-algebra edge cases (hour-boundary truncation, exclusive
    end) are where a bucketing bug would silently drop matches.
    """
    from collections import defaultdict
    from datetime import timedelta

    ev = load_tables(spark, SF, ["events"])["events"].collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append(e.ts)
    sessions = []
    for u, tss in by_user.items():
        tss.sort()
        start = prev = tss[0]
        n = 1
        for t in tss[1:]:
            if (t - prev) >= timedelta(minutes=30):
                sessions.append((u, start, prev + timedelta(minutes=30), n))
                start, n = t, 0
            n += 1
            prev = t
        sessions.append((u, start, prev + timedelta(minutes=30), n))
    want = {}
    for u, s0, s1, n in sessions:
        c = sum(
            1
            for e in ev
            if e.user_id != u and s0 <= e.ts < s1
        )
        want[(u, str(s0))] = (n, c)

    rows = all_specs()["q233_concurrent_sessions"].fn(spark, SF).collect()
    got = {
        (r.user_id, r.session_start): (r.n_events, r.n_concurrent) for r in rows
    }
    assert len(rows) == len(sessions)
    for k, v in want.items():
        assert got[k] == v, k
    assert any(c > 0 for _, c in want.values()), "fixture has concurrency"
