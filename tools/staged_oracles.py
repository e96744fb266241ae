"""Staged DuckDB verification for the queries whose MONOLITHIC oracles
are infeasible above a size bound.

The registered oracles stay as they are — single SQL statements DuckDB
runs at the driver's gate SFs, where two-algorithm agreement is the
point.  At synthetic-scale sweeps three of them blow up for reasons
that are properties of the ORACLE FORMULATION, not of the semantics:

* q95  — the unrolled-CTE PageRank re-evaluates the whole LSH band
         chain per iteration reference (DuckDB does not materialize
         non-``AS MATERIALIZED`` CTEs across references), spilling
         ~79 GB at the 50k-doc synthetic sf1 (r9 sweep note).
         Staged form: each stage is a TEMP TABLE (edges -> bidir ->
         deg/adj -> r0..r3), so every step runs once and the previous
         step's temp is released — identical integer arithmetic,
         identical result.
* q210 — the quadratic NOT-EXISTS skyline is 2.25e12 comparisons at
         1.5M orders.  Staged form: verify the SPARK frontier R
         exactly in O(N·|R|) — (a) every R row is a real order row
         with exact values, (b) soundness: no order dominates any R
         row, (c) completeness: every non-R order is dominated, and
         (d) R has no duplicate keys.  (a)-(d) hold iff R is EXACTLY
         the skyline: dominance is transitive, so any dominated point
         has an undominated dominator, which (b)+(c) force into R.
* q235 — the monolithic Lloyd-assignment joins materialize N·DIM·K
         cells in one plan (tools/probe_q235_stages.py, r10/r11).

``STAGED`` maps query name -> (needs_staged(con), staged_fn(spark,
sf_dir)); tools/check_oracle.py dispatches through it, so synthetic
sweeps report a staged hash-match instead of excluding the query.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from check_oracle import duck_connect  # noqa: E402


# --- q95: step-materialized integer PageRank --------------------------------

#: Above this many documents the unrolled-CTE oracle's repeated band-
#: chain evaluation temp-spills (50k docs spilled 79 GB in the r9 sweep;
#: the 5k-doc sf0.1 monolithic run is routine).
Q95_MAX_DOCS = 20_000


def q95_needs_staged(con) -> bool:
    return con.execute("SELECT count(*) FROM documents").fetchone()[0] > Q95_MAX_DOCS


def staged_q95(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.dedup_queries import (
        PR_ITERS,
        PR_UNIT,
        _duck_minhash_bands_cte,
        q95_neardup_pagerank,
    )

    con = duck_connect(sf_dir)
    con.execute(
        f"""CREATE TEMP TABLE t_edges AS
        WITH {_duck_minhash_bands_cte()}
        SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id"""
    )
    con.execute(
        "CREATE TEMP TABLE t_bidir AS "
        "SELECT u, v FROM t_edges UNION ALL SELECT v AS u, u AS v FROM t_edges"
    )
    con.execute("DROP TABLE t_edges")
    con.execute(
        "CREATE TEMP TABLE t_deg AS "
        "SELECT u, CAST(count(*) AS BIGINT) AS deg FROM t_bidir GROUP BY u"
    )
    con.execute(
        "CREATE TEMP TABLE t_adj AS "
        "SELECT b.u, b.v, d.deg FROM t_bidir b JOIN t_deg d USING (u)"
    )
    con.execute("DROP TABLE t_bidir")
    con.execute(
        f"CREATE TEMP TABLE t_r0 AS "
        f"SELECT u AS id, CAST({PR_UNIT} AS BIGINT) AS r FROM t_deg"
    )
    for i in range(1, PR_ITERS + 1):
        con.execute(
            f"""CREATE TEMP TABLE t_r{i} AS
            SELECT id, CAST({PR_UNIT * 15 // 100} + (85 * s) // 100 AS BIGINT) AS r
            FROM (SELECT a.v AS id, CAST(sum(r.r // a.deg) AS BIGINT) AS s
                  FROM t_adj a JOIN t_r{i - 1} r ON r.id = a.u GROUP BY a.v)"""
        )
        con.execute(f"DROP TABLE t_r{i - 1}")
    duck = {
        int(r[0]): (int(r[1]), repr(float(r[2])))
        for r in con.execute(
            f"SELECT d.u, d.deg, CAST(t_r{PR_ITERS}.r AS DOUBLE) / {PR_UNIT}.0 "
            f"FROM t_r{PR_ITERS} JOIN t_deg d ON d.u = t_r{PR_ITERS}.id"
        ).fetchall()
    }
    srows = q95_neardup_pagerank(spark, sf_dir).collect()
    spark_m = {
        int(r.doc_id): (int(r.degree), repr(float(r.pagerank))) for r in srows
    }
    if spark_m == duck:
        return []
    only_s = set(spark_m) - set(duck)
    only_d = set(duck) - set(spark_m)
    n_bad = sum(1 for k in spark_m if spark_m.get(k) != duck.get(k))
    return [
        f"staged PageRank differs: {n_bad}/{len(spark_m)} rows "
        f"(spark-only ids {len(only_s)}, duck-only {len(only_d)})"
    ]


# --- q210: frontier verified by dominance checks ----------------------------

#: Above this many orders the quadratic NOT-EXISTS oracle is infeasible
#: (150k at sf0.1 already costs minutes; 1.5M is 2.25e12 comparisons).
Q210_MAX_ORDERS = 400_000


def q210_needs_staged(con) -> bool:
    return con.execute("SELECT count(*) FROM orders").fetchone()[0] > Q210_MAX_ORDERS


def staged_q210(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.analytics import q210_pareto_frontier

    pdf = q210_pareto_frontier(spark, sf_dir).toPandas()
    con = duck_connect(sf_dir)
    con.register("r_raw", pdf)
    con.execute(
        "CREATE TEMP TABLE r AS SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, "
        "CAST(o_orderdate AS DATE) AS o_orderdate, CAST(pc AS BIGINT) AS pc FROM r_raw"
    )
    con.execute(
        "CREATE TEMP TABLE o AS SELECT o_orderkey, CAST(o_orderdate AS DATE) AS "
        "o_orderdate, CAST(floor(o_totalprice * 100) AS BIGINT) AS pc FROM orders"
    )
    problems = []
    dup = con.execute(
        "SELECT count(*) - count(DISTINCT o_orderkey) FROM r"
    ).fetchone()[0]
    if dup:
        problems.append(f"frontier has {dup} duplicate order keys")
    bad_member = con.execute(
        """SELECT count(*) FROM r LEFT JOIN o USING (o_orderkey)
        WHERE o.o_orderdate IS NULL
           OR o.o_orderdate <> r.o_orderdate OR o.pc <> r.pc"""
    ).fetchone()[0]
    if bad_member:
        problems.append(f"{bad_member} frontier rows are not exact order rows")
    dominated = con.execute(
        """SELECT count(*) FROM r p JOIN o q
        ON q.o_orderdate <= p.o_orderdate AND q.pc >= p.pc
           AND (q.o_orderdate < p.o_orderdate OR q.pc > p.pc)"""
    ).fetchone()[0]
    if dominated:
        problems.append(f"soundness: {dominated} dominance witnesses against R")
    missing = con.execute(
        """SELECT count(*) FROM o p
        WHERE NOT EXISTS (SELECT 1 FROM r s WHERE s.o_orderkey = p.o_orderkey)
          AND NOT EXISTS (
            SELECT 1 FROM r q
            WHERE q.o_orderdate <= p.o_orderdate AND q.pc >= p.pc
              AND (q.o_orderdate < p.o_orderdate OR q.pc > p.pc))"""
    ).fetchone()[0]
    if missing:
        problems.append(f"completeness: {missing} undominated orders outside R")
    return problems


# --- q235: staged seeds/assignment/edges/closure probe ----------------------


def q235_needs_staged(con) -> bool:
    from probe_q235_stages import MONOLITHIC_MAX_CELLS, q235_monolithic_cells

    return q235_monolithic_cells(con) > MONOLITHIC_MAX_CELLS


def staged_q235(spark, sf_dir: str) -> list:
    from probe_q235_stages import staged_check

    return staged_check(spark, sf_dir)


STAGED = {
    "q95_neardup_pagerank": (q95_needs_staged, staged_q95),
    "q210_pareto_frontier": (q210_needs_staged, staged_q210),
    "q235_semantic_dedup_learned": (q235_needs_staged, staged_q235),
}


# --- pair-dominated dedup family: staged sf10 verification (r12) ------------
#
# r11 verdict ask #4: q23/q61/q228/q231/q246 carried sf1 oracle parity
# plus timing-only sf10 evidence.  Their monolithic oracles are
# infeasible one decade up for the same reason as q95's: DuckDB
# re-evaluates non-MATERIALIZED CTE chains per reference, and the
# shingle/band/pair substrates are exactly the chains every stage
# re-references.  Staging each substrate as a TEMP TABLE runs it once;
# the arithmetic is identical, so a staged hash-match is the same
# evidence as a monolithic one.  A module-level connection memo lets
# the family share one staged substrate set per sf_dir (q23/q61/q228
# share the shingle and band tables; q246 reuses q231's assignment and
# edge tables), mirroring how the Spark side shares memoized
# substrates.

#: Monolithic oracles are routine through the 50k-doc synthetic sf1
#: (rounds 9-10 swept them); stage only above that.
PAIRFAM_MAX_DOCS = 60_000
SEMDEDUP_MAX_VECS = 50_000

_STAGE_CONS: dict = {}
_STAGED_TABLES: dict = {}


def _stage_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    if sf_dir not in _STAGE_CONS:
        _STAGE_CONS[sf_dir] = duck_connect(sf_dir)
        _STAGED_TABLES[sf_dir] = set()
    return _STAGE_CONS[sf_dir]


def _stage(con, sf_dir: str, table: str, sql: str) -> None:
    """CREATE TEMP TABLE once per (connection, table)."""
    if table in _STAGED_TABLES[sf_dir]:
        return
    con.execute(f"CREATE TEMP TABLE {table} AS {sql}")
    _STAGED_TABLES[sf_dir].add(table)


def _pdf_problems(name: str, s_pdf, d_pdf) -> list:
    """Exact pandas comparison: column-name set, row count, then
    per-column exact equality after a canonical whole-frame sort.
    Doubles compare with == — both engines compute them through the
    same IEEE ops (the monolithic sweeps prove the convention)."""
    import pandas as pd

    if sorted(s_pdf.columns) != sorted(d_pdf.columns):
        return [
            f"columns differ: spark={sorted(s_pdf.columns)} "
            f"duck={sorted(d_pdf.columns)}"
        ]
    if len(s_pdf) != len(d_pdf):
        return [f"rowcount differs: spark={len(s_pdf)} duck={len(d_pdf)}"]
    cols = sorted(s_pdf.columns)
    s = s_pdf[cols].sort_values(cols, ignore_index=True)
    d = d_pdf[cols].sort_values(cols, ignore_index=True)
    problems = []
    for c in cols:
        sv = s[c].to_numpy()
        dv = d[c].to_numpy()
        if sv.dtype != dv.dtype:
            try:
                dv = dv.astype(sv.dtype)
            except (TypeError, ValueError):
                problems.append(f"{c}: dtypes {sv.dtype} vs {dv.dtype}")
                continue
        eq = (sv == dv) | (pd.isna(s[c]).to_numpy() & pd.isna(d[c]).to_numpy())
        n_bad = int((~eq).sum())
        if n_bad:
            problems.append(f"{c}: {n_bad}/{len(s)} values differ")
    return problems


def _stage_shingles(con, sf_dir: str) -> None:
    from data_engineering_examples_spark.plans.dedup_queries import (
        _DUCK_HASHED_SHINGLES,
    )

    _stage(
        con, sf_dir, "t_sh",
        f"WITH {_DUCK_HASHED_SHINGLES} SELECT doc_id, sh FROM sh",
    )


def _stage_bands(con, sf_dir: str) -> None:
    from data_engineering_examples_spark.plans.dedup_queries import (
        MINHASH_COEFFS,
        N_BANDS,
        P,
    )

    _stage_shingles(con, sf_dir)
    sig_exprs = ", ".join(
        f"min(({a} * x + {b}) % {P}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    _stage(
        con, sf_dir, "t_sigs",
        f"SELECT doc_id, {sig_exprs} "
        f"FROM (SELECT doc_id, sh % {P} AS x FROM t_sh) GROUP BY doc_id",
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, "
        f"concat_ws('-', s{2 * j}, s{2 * j + 1}) AS bkey FROM t_sigs"
        for j in range(N_BANDS)
    )
    _stage(con, sf_dir, "t_bands", band_selects)
    _stage(
        con, sf_dir, "t_lsh_pairs",
        "SELECT DISTINCT a.doc_id AS u, b.doc_id AS v "
        "FROM t_bands a JOIN t_bands b "
        "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id",
    )


def pairfam_needs_staged(con) -> bool:
    return (
        con.execute("SELECT count(*) FROM documents").fetchone()[0]
        > PAIRFAM_MAX_DOCS
    )


def staged_q23(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.dedup_queries import (
        _DUCK_DF_CAP,
        q23_ngram_jaccard_pairs,
    )

    con = _stage_con(sf_dir)
    _stage_shingles(con, sf_dir)
    _stage(
        con, sf_dir, "t23_shf",
        "SELECT doc_id, sh FROM ("
        "  SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM t_sh"
        f") WHERE df <= {_DUCK_DF_CAP}",
    )
    _stage(
        con, sf_dir, "t23_sizes",
        "SELECT doc_id, count(*) AS n FROM t23_shf GROUP BY doc_id",
    )
    _stage(
        con, sf_dir, "t23_inter",
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared "
        "FROM t23_shf a JOIN t23_shf b "
        "ON a.sh = b.sh AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2 HAVING count(*) >= 2",
    )
    d_pdf = con.execute(
        """SELECT i.doc_a, i.doc_b, i.shared,
               CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
        FROM t23_inter i
        JOIN t23_sizes sa ON sa.doc_id = i.doc_a
        JOIN t23_sizes sb ON sb.doc_id = i.doc_b"""
    ).df()
    s_pdf = q23_ngram_jaccard_pairs(spark, sf_dir).toPandas()
    return _pdf_problems("q23", s_pdf, d_pdf)


def staged_q61(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.dedup_queries import (
        q61_dedup_verdict,
    )

    con = _stage_con(sf_dir)
    _stage_bands(con, sf_dir)
    d_pdf = con.execute(
        """WITH exact_drop AS (
          SELECT doc_id FROM (
            SELECT doc_id,
                   min(doc_id) OVER (
                     PARTITION BY sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                   ) AS keeper
            FROM documents
          ) WHERE doc_id <> keeper
        ),
        near_drop AS (SELECT DISTINCT v AS doc_id FROM t_lsh_pairs)
        SELECT d.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'keep' END AS verdict
        FROM documents d
        LEFT JOIN exact_drop e ON e.doc_id = d.doc_id
        LEFT JOIN near_drop n ON n.doc_id = d.doc_id"""
    ).df()
    s_pdf = q61_dedup_verdict(spark, sf_dir).toPandas()
    return _pdf_problems("q61", s_pdf, d_pdf)


def staged_q228(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.dedup_queries import (
        _duck_kcore_peel,
        q228_neardup_kcore,
    )

    con = _stage_con(sf_dir)
    _stage_bands(con, sf_dir)
    _stage(
        con, sf_dir, "t228_e0",
        "SELECT u, v FROM t_lsh_pairs "
        "UNION SELECT v AS u, u AS v FROM t_lsh_pairs",
    )
    # peel until the stage stops shrinking (the k_core fixpoint rule)
    r, n = 0, None
    while True:
        cur = con.execute(f"SELECT count(*) FROM t228_e{r}").fetchone()[0]
        if cur == n:
            break
        n = cur
        _stage(con, sf_dir, f"t228_e{r + 1}", _duck_kcore_peel(f"t228_e{r}"))
        r += 1
    d_pdf = con.execute(
        f"SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS core_deg "
        f"FROM t228_e{r} GROUP BY u"
    ).df()
    s_pdf = q228_neardup_kcore(spark, sf_dir).toPandas()
    return _pdf_problems("q228", s_pdf, d_pdf)


def semdedup_needs_staged(con) -> bool:
    return (
        con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        > SEMDEDUP_MAX_VECS
    )


def _stage_semdedup(con, sf_dir: str) -> None:
    """Shared coarse-SemDeDup stages: norms, K=ceil(sqrt(N)) seeds,
    assignment (cc computed once per (vec, cent) WITHOUT carrying the
    64-double lists into the ranked temp — the monolithic oracle's
    N*K*DIM cell blow-up is exactly what staging avoids), pair edges."""
    from data_engineering_examples_spark.plans.similarity_queries import (
        SEMDEDUP_COS,
        _duck_dot,
        _duck_vec,
    )

    _stage(
        con, sf_dir, "t_vn",
        f"SELECT vec_id, {_duck_vec('embedding')} AS e, "
        f"sqrt({_duck_dot(_duck_vec('embedding'), _duck_vec('embedding'))}) AS nrm "
        f"FROM embeddings",
    )
    _stage(
        con, sf_dir, "t_seeds",
        """SELECT r.vec_id FROM (
          SELECT vec_id,
                 row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                    vec_id) AS rk
          FROM embeddings) r,
          (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS k
           FROM embeddings) kk
        WHERE r.rk <= kk.k""",
    )
    _stage(
        con, sf_dir, "t_cents",
        "SELECT vn.vec_id AS cent_id, e AS ce, nrm AS cnrm "
        "FROM t_vn vn JOIN t_seeds USING (vec_id)",
    )
    _stage(
        con, sf_dir, "t_cc_scan",
        f"SELECT x.vec_id, c.cent_id, "
        f"{_duck_dot('x.e', 'c.ce')} / (x.nrm * c.cnrm) AS cc "
        f"FROM t_vn x CROSS JOIN t_cents c",
    )
    _stage(
        con, sf_dir, "t_assign",
        "SELECT vec_id, cent_id, cc AS cent_cos FROM ("
        "  SELECT vec_id, cent_id, cc,"
        "         row_number() OVER (PARTITION BY vec_id"
        "                            ORDER BY cc DESC, cent_id) AS rk"
        "  FROM t_cc_scan) WHERE rk = 1",
    )
    con.execute("DROP TABLE IF EXISTS t_cc_scan")
    _STAGED_TABLES[sf_dir].discard("t_cc_scan")
    _stage(
        con, sf_dir, "t_sem_edges",
        f"""SELECT a.vec_id AS u, b.vec_id AS v,
               {_duck_dot('av.e', 'bv.e')} / (av.nrm * bv.nrm) AS cos_sim
        FROM t_assign a JOIN t_assign b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        JOIN t_vn av ON av.vec_id = a.vec_id
        JOIN t_vn bv ON bv.vec_id = b.vec_id
        WHERE {_duck_dot('av.e', 'bv.e')} / (av.nrm * bv.nrm)
              >= {SEMDEDUP_COS}""",
    )


def staged_q231(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.similarity_queries import (
        q231_semantic_dedup,
    )

    con = _stage_con(sf_dir)
    _stage_semdedup(con, sf_dir)
    d_pdf = con.execute(
        """WITH RECURSIVE
        bidir AS (SELECT u, v FROM t_sem_edges
                  UNION SELECT v AS u, u AS v FROM t_sem_edges),
        members AS (SELECT DISTINCT u AS id FROM bidir),
        reach(id, label) AS (
          SELECT id, id FROM members
          UNION
          SELECT b.u, r.label FROM bidir b JOIN reach r ON r.id = b.v
        ),
        cc AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
        SELECT a.vec_id, a.cent_id, cc.component, a.cent_cos,
               row_number() OVER (PARTITION BY cc.component
                                  ORDER BY a.cent_cos ASC, a.vec_id ASC) = 1
                 AS keep
        FROM cc JOIN t_assign a ON a.vec_id = cc.id"""
    ).df()
    s_pdf = q231_semantic_dedup(spark, sf_dir).toPandas()
    return _pdf_problems("q231", s_pdf, d_pdf)


def staged_q246(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.similarity_queries import (
        PARA_MAX_JACCARD_DEN,
        PARA_MAX_JACCARD_NUM,
        q246_paraphrase_candidates,
    )

    con = _stage_con(sf_dir)
    _stage_semdedup(con, sf_dir)
    _stage_shingles(con, sf_dir)
    _stage(
        con, sf_dir, "t246_sizes",
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM t_sh GROUP BY 1",
    )
    _stage(
        con, sf_dir, "t246_shared",
        """SELECT s.u, s.v, CAST(count(*) AS BIGINT) AS shared
        FROM t_sem_edges s
        JOIN t_sh sa ON sa.doc_id = s.u
        JOIN t_sh sb ON sb.doc_id = s.v AND sb.sh = sa.sh
        GROUP BY s.u, s.v""",
    )
    mul = PARA_MAX_JACCARD_NUM + PARA_MAX_JACCARD_DEN
    d_pdf = con.execute(
        f"""SELECT s.u AS doc_a, s.v AS doc_b, s.cos_sim,
               coalesce(h.shared, 0) AS shared_shingles,
               coalesce(za.n, 0) AS n_a, coalesce(zb.n, 0) AS n_b,
               CASE WHEN coalesce(za.n, 0) + coalesce(zb.n, 0) > 0
                    THEN ({mul} * coalesce(h.shared, 0)
                          <= coalesce(za.n, 0) + coalesce(zb.n, 0))
               END AS is_paraphrase
        FROM t_sem_edges s
        LEFT JOIN t246_shared h ON h.u = s.u AND h.v = s.v
        LEFT JOIN t246_sizes za ON za.doc_id = s.u
        LEFT JOIN t246_sizes zb ON zb.doc_id = s.v"""
    ).df()
    s_pdf = q246_paraphrase_candidates(spark, sf_dir).toPandas()
    return _pdf_problems("q246", s_pdf, d_pdf)


STAGED.update({
    "q23_ngram_jaccard_pairs": (pairfam_needs_staged, staged_q23),
    "q61_dedup_verdict": (pairfam_needs_staged, staged_q61),
    "q228_neardup_kcore": (pairfam_needs_staged, staged_q228),
    "q231_semantic_dedup": (semdedup_needs_staged, staged_q231),
    "q246_paraphrase_candidates": (semdedup_needs_staged, staged_q246),
})


def staged_q259(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.dedup_queries import (
        JACCARD_SWEEP_PPM,
        q259_jaccard_threshold_sweep,
    )

    con = _stage_con(sf_dir)
    # rides q23's staged pair tables (t23_shf -> t23_sizes -> t23_inter)
    staged_q23_tables = ("t23_shf", "t23_sizes", "t23_inter")
    if not all(t in _STAGED_TABLES[sf_dir] for t in staged_q23_tables):
        from data_engineering_examples_spark.plans.dedup_queries import (
            _DUCK_DF_CAP,
        )

        _stage_shingles(con, sf_dir)
        _stage(
            con, sf_dir, "t23_shf",
            "SELECT doc_id, sh FROM ("
            "  SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM t_sh"
            f") WHERE df <= {_DUCK_DF_CAP}",
        )
        _stage(
            con, sf_dir, "t23_sizes",
            "SELECT doc_id, count(*) AS n FROM t23_shf GROUP BY doc_id",
        )
        _stage(
            con, sf_dir, "t23_inter",
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared "
            "FROM t23_shf a JOIN t23_shf b "
            "ON a.sh = b.sh AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2 HAVING count(*) >= 2",
        )
    ts = ", ".join(str(t) for t in JACCARD_SWEEP_PPM)
    d_pdf = con.execute(
        f"""WITH comp AS (
          SELECT i.doc_a, i.doc_b, i.shared, sa.n AS na, sb.n AS nb
          FROM t23_inter i
          JOIN t23_sizes sa ON sa.doc_id = i.doc_a
          JOIN t23_sizes sb ON sb.doc_id = i.doc_b
        ),
        passing AS (
          SELECT t.t_ppm, c.doc_a, c.doc_b
          FROM comp c CROSS JOIN (SELECT unnest([{ts}]) AS t_ppm) t
          WHERE 1000000 * c.shared >= t.t_ppm * (c.na + c.nb - c.shared)
        )
        SELECT CAST(t_ppm AS BIGINT) AS threshold_ppm,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_flagged
        FROM passing GROUP BY 1"""
    ).df()
    s_pdf = q259_jaccard_threshold_sweep(spark, sf_dir).toPandas()
    return _pdf_problems("q259", s_pdf, d_pdf)


STAGED["q259_jaccard_threshold_sweep"] = (pairfam_needs_staged, staged_q259)


def staged_q260(spark, sf_dir: str) -> list:
    from data_engineering_examples_spark.plans.similarity_queries import (
        SEMDEDUP_SWEEP_MICROS,
        q260_semdedup_threshold_sweep,
    )

    con = _stage_con(sf_dir)
    _stage_semdedup(con, sf_dir)
    ts = ", ".join(str(t) for t in SEMDEDUP_SWEEP_MICROS)
    d_pdf = con.execute(
        f"""WITH passing AS (
          SELECT t.t_micro, p.u, p.v
          FROM t_sem_edges p
          CROSS JOIN (SELECT unnest([{ts}]) AS t_micro) t
          WHERE p.cos_sim >= CAST(t.t_micro AS DOUBLE) / 1000000
        )
        SELECT CAST(t_micro AS BIGINT) AS threshold_micro,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT v) AS BIGINT) AS n_docs_flagged
        FROM passing GROUP BY 1"""
    ).df()
    s_pdf = q260_semdedup_threshold_sweep(spark, sf_dir).toPandas()
    return _pdf_problems("q260", s_pdf, d_pdf)


STAGED["q260_semdedup_threshold_sweep"] = (semdedup_needs_staged, staged_q260)
