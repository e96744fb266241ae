"""Staged Spark-vs-DuckDB parity probe for q235 (learned-centroid
SemDeDup) at scale factors where the MONOLITHIC oracle cannot run.

Why this exists: with the r10 K = ceil(sqrt(N)) seed dial, q235's
single-query DuckDB oracle materializes the d1/d2 assignment joins
(N·DIM·K rows — 182M at the 20k-vector synthetic sf1) at once inside
one plan and exhausts local disk with temp spills, the same
by-definition-heavy category as q95/q210's quadratic closures
(bench_snapshots/README.md).  The SEMANTICS are still fully checkable:
each stage's DuckDB formulation runs fine in isolation because DuckDB
can release the previous stage's temp before the next starts.  This
probe therefore verifies, stage by stage:

  1. seed set      — K and the md5-ranked seed ids match exactly;
  2. assignment    — (vec_id, cluster, dist) after q235's Lloyd rounds
                     (``_learned_assign``, the engine's code) match the
                     unrolled DuckDB rounds exactly;
  3. edge set      — the within-cluster cosine pairs from the Arrow
                     kernel match DuckDB's fold-based pair join exactly;
  4. closure       — (vec_id, cluster_id, component, keep) from the
                     grouped kernel q235 returns (``_semdedup_closure``:
                     pairs, components and keep rule fused), run over
                     stage 3's assignment, match a Python union-find
                     over DuckDB's stage-3 edges with the keep rule
                     applied to stage 2's exact ``dist``.

Green stages 1-4 at a given SF mean the monolithic oracle would match
if it could run.

``staged_check()`` is the library entry point: tools/check_oracle.py
calls it for q235 whenever the monolithic N·DIM·K join volume exceeds
:data:`MONOLITHIC_MAX_CELLS`, so the sf1 sweep's exclusion list covers
only the two quadratic-by-definition oracles (q95/q210) — r10 VERDICT
ask #4.

Usage: python tools/probe_q235_stages.py [sf_dir]   (default synth sf1)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

#: Above this many (vector, dim, centroid) join cells, q235's monolithic
#: DuckDB oracle temp-spills local disk (182M cells at synthetic sf1 did;
#: 5.8M at sf0.1 is comfortable) and the staged probe takes over.
MONOLITHIC_MAX_CELLS = 50_000_000


def q235_monolithic_cells(con, table: str = "embeddings") -> int:
    """N * DIM * ceil(sqrt(N)) — the assignment-join volume the
    monolithic oracle materializes in one plan."""
    row = con.execute(
        f"SELECT count(*), coalesce(max(len(embedding)), 0), "
        f"CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) FROM {table}"
    ).fetchone()
    n, dim, k = row
    return int(n) * int(dim) * int(k)


def staged_check(spark, sf_dir: str, verbose: bool = False) -> list:
    """Run the four-stage q235 parity probe; return a list of problem
    strings (empty == all stages match). Creates its own DuckDB
    connection — the stages are heavy enough that sharing a caller's
    connection would keep its temps alive across stages, which is the
    exact failure the staging avoids."""
    from pyspark.sql import functions as F

    from data_engineering_examples_spark.plans import similarity_queries as sq
    from data_engineering_examples_spark.scratch import materialize
    from data_engineering_examples_spark.sources.tables import load_tables, scale_out

    problems: list = []
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    n = emb.count()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )

    # --- stage 1: seeds -----------------------------------------------
    seeds = sq._semdedup_seed_frame(emb, n)
    s_spark = sorted(r.vec_id for r in seeds.collect())
    s_duck = sorted(
        r[0]
        for r in con.execute(
            """
        WITH kk AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS k
                    FROM embeddings)
        SELECT vec_id FROM (
          SELECT vec_id,
                 row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
          FROM embeddings) r, kk WHERE r.rk <= kk.k
        """
        ).fetchall()
    )
    if s_spark != s_duck:
        problems.append(
            f"stage 1 seed sets differ: spark K={len(s_spark)}, duck K={len(s_duck)}"
        )
        return problems  # downstream stages are meaningless on bad seeds
    if verbose:
        print(f"stage 1 seeds: OK (K={len(s_spark)}, N={n})")

    # --- stage 2: assignment ------------------------------------------
    # the engine's own Lloyd rounds over its own quantized substrate
    final = sq._learned_assign(sq._xq_substrate(spark, sf_dir), seeds)
    a_spark = {r.vec_id: (r.cluster, str(r.dist)) for r in final.collect()}

    sqdiff = (
        "CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))"
        " * CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))"
    )
    lloyd_cte = f"""
    xq AS (
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)), i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {sq.KMEANS_SCALE}) AS BIGINT))) AS xq
      FROM embeddings
    ),
    kk AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS k FROM embeddings),
    sd AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM embeddings) r, kk WHERE r.rk <= kk.k
    ),
    c1 AS (SELECT x.vec_id AS cluster, x.dim, x.xq AS cs, CAST(1 AS BIGINT) AS n
           FROM xq x JOIN sd USING (vec_id)),
    d1 AS (SELECT x.vec_id, c.cluster, sum({sqdiff}) AS dist
           FROM xq x JOIN c1 c USING (dim) GROUP BY 1, 2),
    a1 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
             FROM d1) WHERE rn = 1),
    c2 AS (SELECT a.cluster, x.dim, CAST(sum(x.xq) AS BIGINT) AS cs, count(*) AS n
           FROM xq x JOIN a1 a USING (vec_id) GROUP BY 1, 2),
    d2 AS (SELECT x.vec_id, c.cluster, sum({sqdiff}) AS dist
           FROM xq x JOIN c2 c USING (dim) GROUP BY 1, 2),
    a2 AS (SELECT vec_id, cluster, dist FROM (
             SELECT vec_id, cluster, dist,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
             FROM d2) WHERE rn = 1)"""
    a_duck = {
        r[0]: (r[1], str(r[2]))
        for r in con.execute(
            f"WITH {lloyd_cte} SELECT vec_id, cluster, dist FROM a2"
        ).fetchall()
    }
    if a_spark != a_duck:
        n_bad = sum(1 for k in a_spark if a_spark.get(k) != a_duck.get(k))
        problems.append(
            f"stage 2 assignments differ on {n_bad}/{len(a_spark)} vectors"
        )
        return problems
    if verbose:
        print(f"stage 2 assignment: OK ({len(a_spark)} rows)")

    # --- stage 3: edges ------------------------------------------------
    vn = emb.select("vec_id", sq._to_double("embedding").alias("e")).withColumn(
        "nrm", F.sqrt(sq._dot(F.col("e"), F.col("e")))
    )
    m = materialize(
        final.withColumnRenamed("dist", "key").join(vn, "vec_id"), "probe235_assign"
    )
    e_spark = {(r.u, r.v) for r in sq._semdedup_edges(m, sq.SEMDEDUP_COS).collect()}
    e_duck = {
        (r[0], r[1])
        for r in con.execute(
            f"""
        WITH {lloyd_cte},
        v AS (SELECT vec_id, {sq._duck_vec('embedding')} AS e FROM embeddings),
        vn AS (SELECT vec_id, e, sqrt({sq._duck_dot('e', 'e')}) AS nrm FROM v),
        mm AS (SELECT a.vec_id, a.cluster, x.e, x.nrm
               FROM a2 a JOIN vn x ON x.vec_id = a.vec_id)
        SELECT a.vec_id AS u, b.vec_id AS v2
        FROM mm a JOIN mm b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {sq._duck_dot('a.e', 'b.e')} / (a.nrm * b.nrm) >= {sq.SEMDEDUP_COS}
        """
        ).fetchall()
    }
    if e_spark != e_duck:
        problems.append(
            f"stage 3 edge sets differ: spark-only={len(e_spark - e_duck)}, "
            f"duck-only={len(e_duck - e_spark)}"
        )
        return problems
    if verbose:
        print(f"stage 3 edges: OK ({len(e_spark)} edges)")

    # --- stage 4: closure ----------------------------------------------
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in e_duck:
        ru, rv = find(u), find(v)
        parent[max(ru, rv)] = min(ru, rv)  # the root is the least id
    keeper: dict = {}
    for x in sorted(parent):  # ascending id: a dist tie keeps the lower
        c = find(x)
        if c not in keeper or int(a_duck[x][1]) > int(a_duck[keeper[c]][1]):
            keeper[c] = x
    c_duck = {
        x: (a_duck[x][0], find(x), keeper[find(x)] == x) for x in parent
    }
    c_spark = {
        r.vec_id: (r.cluster_id, r.component, r.keep)
        # q235's body is this call over the same join, materialized above
        for r in sq._semdedup_closure(m, sq.SEMDEDUP_COS).collect()
    }
    if c_spark != c_duck:
        n_bad = len(set(c_spark) ^ set(c_duck)) + sum(
            1 for k in c_spark if k in c_duck and c_spark[k] != c_duck[k]
        )
        problems.append(f"stage 4 closure differs on {n_bad} vectors")
        return problems
    if verbose:
        print(f"stage 4 closure: OK ({len(c_spark)} members)")
    return problems


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfsynth1"

    from data_engineering_examples_spark.session import get_spark

    spark = get_spark("probe-q235")
    problems = staged_check(spark, sf, verbose=True)
    if problems:
        for p in problems:
            print(f"FAIL: {p}")
        sys.exit(1)
    print("q235 staged parity: ALL OK")


if __name__ == "__main__":
    main()
