"""L4 — similarity search over the ``embeddings`` table (LLM-pipeline
surface; builder brief "Similarity search").

* **q31 brute-force cosine top-k** — the correctness baseline: broadcast
  the (small) probe set against every candidate, rank per probe. O(P·N)
  by design; at 100 TB this is the plan you use when P is small (the
  probe side broadcasts, the big side streams through scan-local math —
  no shuffle of the candidate table at all; the only exchange is the
  final per-probe top-k, which TakeOrdered-style combines partial top-ks).
* **q32 LSH-bucketed ANN** — the scale path: 16 fixed random hyperplanes →
  sign bits → 4 bands × 4 bits; candidates are only vectors sharing a
  band bucket with the probe (never all-pairs), then exact cosine re-rank
  within candidates. Work scales with bucket occupancy, not N².

Float determinism: all dot products fold LEFT-TO-RIGHT IN DOUBLE
(``transform(cast to double)`` then ``aggregate``), which DuckDB's
``list_inner_product`` over double-cast lists reproduces bit-exactly
(verified: 1494/1494 pairwise cosines identical). DuckDB's own
``list_cosine_similarity`` accumulates in float and does NOT match — the
oracles below use the explicit double form.

Everything is built-in higher-order Column expressions — no UDFs; the
vector math runs inside codegen on the JVM.  One measured exception:
the SemDeDup within-cluster pair stage (quadratic in the dominant
cluster size; q231/q246/q260 over the coarse clusters, q235 over the
learned ones) uses Arrow-batched ``applyInPandas`` kernels over one
screen — a BLAS matmul candidate screen with a rigorous error margin,
then the EXACT left-to-right fold re-evaluated on the boundary band —
because the interpreted higher-order fold costs ~140µs per pair (see
``_semdedup_screen``).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.centroids import centroid_update, exact_sq, nearest, sq_dists
from ..scratch import materialize, memo_substrate
from ..sources.tables import load_tables, scale_out
from .registry import register

N_PROBES = 10
TOP_K = 10
# q31's brute-force path broadcasts the probe set and pays O(P·N) dot
# products; past this bound the bucketed indexes are the only sane plan
MAX_BRUTE_PROBES = 1024
DIM = 64
N_PLANES = 16
N_BANDS, BITS_PER_BAND = 4, 4

# q49 embedding near-dup: LSH candidates + exact-cosine threshold
NEARDUP_COS = 0.40

# q50 IVF: fixed "training sample" vectors act as coarse centroids
# (a k-means iteration would refine them; the partition/probe shape —
# the thing that matters at scale — is identical).
CENT_IDS = [3, 47, 101, 163, 217, 289, 355, 433]
N_PROBE_LISTS = 2

# deterministic random hyperplanes, embedded as literals in BOTH engines
_rng = random.Random(7)
PLANES = [[_rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(N_PLANES)]


def _to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(u, v):
    """Sequential left-fold dot product in double — the cross-engine-stable
    form (see module docstring).

    Deliberately the higher-order ``aggregate(zip_with(...))`` form: for
    primitive-double arrays the interpreted HOF fold beat both measured
    alternatives at sf0.1 — a 64-term unrolled ``element_at`` sum (bulky
    codegen, ~4× slower) and plane-literal indexing (non-folded
    ``element_at(array(lit...))`` re-materializes the array per term,
    ~10× slower). Don't "optimize" this without re-measuring."""
    return F.aggregate(F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def _plane_lit(p: list[float]):
    return F.array(*[F.lit(v) for v in p])


def _duck_vec(col: str) -> str:
    return f"list_transform({col}, x -> CAST(x AS DOUBLE))"


def _duck_dot(u: str, v: str) -> str:
    return f"list_inner_product({u}, {v})"


def _duck_plane(p: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in p) + "]"


# ---------------------------------------------------------------------------
# q31 — brute-force cosine top-k for the first N_PROBES vectors.


@register(
    "q31_cosine_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    pairs AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             {_duck_dot('p.e', 'c.e')} /
               (sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('c.e', 'c.e')})) AS cosine
      FROM v p JOIN v c ON p.vec_id < {N_PROBES} AND c.vec_id <> p.vec_id
    )
    SELECT probe_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM pairs
    QUALIFY rank <= {TOP_K}
    """,
    doc="brute-force cosine top-k (broadcast probes, scan-local math)",
    tags=("similarity", "llm"),
)
def q31_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Executable contract, not a comment: brute force is O(P·N) BY
    # DESIGN (the recall baseline q32/q175/q201 are judged against) and
    # is only sane while the probe side broadcasts. Anyone raising
    # N_PROBES past the broadcast-sized bound must consciously move to
    # the bucketed paths (q32 LSH / q50 IVF / q175 IVF-PQ) instead.
    if N_PROBES > MAX_BRUTE_PROBES:
        raise ValueError(
            f"brute-force top-k is capped at {MAX_BRUTE_PROBES} probes "
            f"(got {N_PROBES}); use the LSH/IVF paths for larger probe sets"
        )
    # the HOF dot products below are interpreted and compute-bound:
    # never inherit a one-row-group scan's single-partition layout
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    probes = F.broadcast(
        v.filter(F.col("vec_id") < N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"))
    )
    pairs = probes.join(v, F.col("vec_id") != F.col("probe_id"))
    cosine = _dot(F.col("pe"), F.col("e")) / (
        F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    scored = pairs.select(
        "probe_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# q32 — LSH-bucketed ANN: candidates share >= 1 band bucket, then exact
# cosine re-rank. The oracle reproduces planes, signs, buckets, and
# ranking exactly.


def _duck_ann_oracle() -> str:
    bits = ", ".join(
        f"(CASE WHEN {_duck_dot('e', _duck_plane(PLANES[h]))} > 0 THEN 1 ELSE 0 END) AS bit{h}"
        for h in range(N_PLANES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT vec_id, e, {j} AS band, concat_ws('', {bits}) AS bkey FROM sig".format(
            j=j,
            bits=", ".join(f"bit{j * BITS_PER_BAND + k}" for k in range(BITS_PER_BAND)),
        )
        for j in range(N_BANDS)
    )
    return f"""
    WITH v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    sig AS (SELECT vec_id, e, {bits} FROM v),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
      FROM bands p JOIN bands c
        ON p.band = c.band AND p.bkey = c.bkey
       AND p.vec_id < {N_PROBES} AND c.vec_id <> p.vec_id
    ),
    scored AS (
      SELECT cand.probe_id, cand.neighbor_id,
             {_duck_dot('p.e', 'c.e')} /
               (sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('c.e', 'c.e')})) AS cosine
      FROM cand
      JOIN v p ON p.vec_id = cand.probe_id
      JOIN v c ON c.vec_id = cand.neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {TOP_K}
    """


def _signatures(v: DataFrame) -> DataFrame:
    """vec_id, e, band, bkey — one row per (vector, band)."""
    sig = v.select(
        "vec_id",
        "e",
        *[
            (_dot(F.col("e"), _plane_lit(PLANES[h])) > 0).cast("int").alias(f"bit{h}")
            for h in range(N_PLANES)
        ],
    )
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"),
                    F.concat_ws(
                        "",
                        *[
                            F.col(f"bit{j * BITS_PER_BAND + k}").cast("string")
                            for k in range(BITS_PER_BAND)
                        ],
                    ).alias("bkey"),
                )
                for j in range(N_BANDS)
            ]
        )
    ).alias("bb")
    return sig.select("vec_id", "e", bands).select("vec_id", "e", "bb.band", "bb.bkey")


def _lsh_bands_substrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, band, bkey) LSH signature/band table over the FULL
    embeddings table — the ANN index q32 serves probes from and q49
    mines near-dup candidates from.  Built ONCE per (session, sf_dir)
    through the memo_substrate seam: a production ANN stack builds the
    banded index in one batch job and every consumer reads it (q211 is
    the publish/serve demonstration of exactly that cycle); re-deriving
    the 16 interpreted hyperplane dot products per consumer per
    invocation was the single hottest repeated compute in the
    similarity family.  q238's canonical-subset bands are this table
    semi-joined to the keeper set (signatures are per-vector, so the
    filtered index is bit-identical to re-deriving them — r14)."""

    def build() -> DataFrame:
        emb = scale_out(
            load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        )
        return _signatures(
            emb.select("vec_id", _to_double("embedding").alias("e"))
        )

    return memo_substrate(spark, "lsh_bands", sf_dir, build)


@register(
    "q32_ann_lsh_topk",
    oracle=_duck_ann_oracle(),
    doc="LSH(16 hyperplanes, 4x4 bands) ANN + exact re-rank; bucket-join only",
    tags=("similarity", "llm"),
)
def q32_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the HOF dot products below are interpreted and compute-bound:
    # never inherit a one-row-group scan's single-partition layout
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    # session-wide banded index (see _lsh_bands_substrate)
    bands = _lsh_bands_substrate(spark, sf_dir)

    probes = bands.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        "band",
        "bkey",
    )
    cands = (
        F.broadcast(probes)
        .join(
            bands,
            (probes.band == bands.band)
            & (probes.bkey == bands.bkey)
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    # re-attach vectors for the exact re-rank (bucket join dropped no info,
    # but distinct() must run on slim (probe, neighbor) pairs first)
    pv = v.select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"))
    cv = v.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"))
    scored = (
        cands.join(F.broadcast(pv), "probe_id")
        .join(cv, "neighbor_id")
        .select(
            "probe_id",
            "neighbor_id",
            (
                _dot(F.col("pe"), F.col("ce"))
                / (
                    F.sqrt(_dot(F.col("pe"), F.col("pe")))
                    * F.sqrt(_dot(F.col("ce"), F.col("ce")))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# q49 — embedding-cosine near-duplicate pairs (builder brief "Deduplication:
# embedding-cosine near-dup"). Candidate pairs come ONLY from shared LSH
# band buckets (the same 16-plane/4x4-band signatures as q32), then exact
# cosine >= NEARDUP_COS within candidates. Recall < 1 by construction —
# that IS the scale contract (all-pairs cosine is O(n^2) and impossible at
# 100 TB); the band parameters tune recall. The DuckDB oracle reproduces
# planes, buckets, candidates, and the threshold exactly.


def _duck_neardup_cte() -> str:
    """Shared CTE chain (v → sig → bands → cand) for the LSH-banded
    near-dup oracles: q49 (direct) and q238 (canonical-composed, whose
    oracle is exactly this naive-order computation — that is the pin
    that the exact-dedup-first composition is a physical rewrite)."""
    bits = ", ".join(
        f"(CASE WHEN {_duck_dot('e', _duck_plane(PLANES[h]))} > 0 THEN 1 ELSE 0 END) AS bit{h}"
        for h in range(N_PLANES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT vec_id, e, {j} AS band, concat_ws('', {bits}) AS bkey FROM sig".format(
            j=j,
            bits=", ".join(f"bit{j * BITS_PER_BAND + k}" for k in range(BITS_PER_BAND)),
        )
        for j in range(N_BANDS)
    )
    return f"""
    v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    sig AS (SELECT vec_id, e, {bits} FROM v),
    bands AS ({band_rows}),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )"""


def _duck_neardup_oracle() -> str:
    return f"""
    WITH {_duck_neardup_cte()}
    SELECT cand.vec_a, cand.vec_b,
           {_duck_dot('p.e', 'c.e')} /
             (sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('c.e', 'c.e')})) AS cosine
    FROM cand
    JOIN v p ON p.vec_id = cand.vec_a
    JOIN v c ON c.vec_id = cand.vec_b
    WHERE {_duck_dot('p.e', 'c.e')} /
             (sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('c.e', 'c.e')}))
          >= {NEARDUP_COS}
    """


@register(
    "q49_embedding_neardup",
    oracle=_duck_neardup_oracle(),
    doc="embedding-cosine near-dup pairs: LSH band candidates + exact threshold",
    tags=("dedup", "similarity", "llm"),
)
def q49_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the HOF dot products below are interpreted and compute-bound:
    # never inherit a one-row-group scan's single-partition layout
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    # full-table consumer: candidates come from the session-wide banded
    # index instead of re-deriving the signatures per invocation
    return _neardup_pairs(v, bands=_lsh_bands_substrate(spark, sf_dir))


def _neardup_pairs(v: DataFrame, bands: DataFrame | None = None) -> DataFrame:
    """q49's LSH-banded near-dup pipeline over ``v`` = (vec_id,
    e: array<double>): band-bucket candidates (≥2 shared bands) +
    exact-fold cosine threshold.  Factored out so q238 can run the SAME
    pipeline over the exact-dedup CANONICAL vectors (the measured
    pipeline-ordering dial from the r9 sf1 sweep).  ``bands`` lets a
    caller pass the session-wide banded-index substrate (full table, or
    a key-filtered slice of it — q238 passes the substrate semi-joined
    to its canonical keeper set); ``None`` derives signatures from
    ``v`` itself."""
    if bands is None:
        bands = _signatures(v)

    # shuffle-hash hint: scale-correct (never broadcast the full band
    # table) and collapses the two identical signature subplans into one
    # ReusedExchange — the 16 hyperplane dot products run once.
    # AND-amplification: a pair is a candidate only if it collides in
    # >= 2 of the 4 bands (HAVING count >= 2, which also dedups in the
    # same exchange as the pair groupBy) — cuts the candidate set ~20×
    # at uniform data while keeping P(candidate) ≈ 0.995 for true
    # near-dups (cos >= 0.9).
    a = bands.alias("a").hint("shuffle_hash")
    b = bands.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") >= 2)
        .drop("nb")
    )
    # the (vec_id, e) side table is per-row small; broadcast both lookups
    # so the (possibly large) candidate pair set never shuffles its
    # 64-double payloads. (At 100 TB the pair set is partitioned and the
    # vector table is bucket-joined instead — same logical plan.)
    pv = F.broadcast(v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("pe")))
    cv = F.broadcast(v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("ce")))
    cosine = _dot(F.col("pe"), F.col("ce")) / (
        F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ce"), F.col("ce")))
    )
    return (
        cand.join(pv, "vec_a")
        .join(cv, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COS)
    )


# ---------------------------------------------------------------------------
# q238 — exact-dedup-FIRST near-dup: the pipeline ORDERING dial the r9
# synthetic-sf1 sweep measured (bench_snapshots/README.md, q49 section):
# verbatim-duplicated vectors blow up q49's in-bucket candidate pairs
# ~quadratically (20k vectors → 54s at sf1), while ONE exact hash-groupBy
# first collapses the table to its distinct vectors (20k → 2k measured),
# the LSH near-dup stage runs at the deduplicated cost (~2.8s), and
# duplicate groups re-expand through the keeper map afterwards — the
# q22-before-q49 ordering every production corpus pipeline uses.  This
# registers that ordering as a query with an oracle instead of a bench
# note: the oracle is the NAIVE-ORDER computation (q49's direct LSH
# pipeline over all vectors, plus each endpoint's canonical id), so the
# hash-match IS the proof that the composition is a physical rewrite,
# not a semantic one.
#
# Exactness of the rewrite (why naive == composed, bit-for-bit):
# members of an exact-dup group share the embedding VALUE, hence the
# LSH signature, hence every band bucket — so (a) a cross-group member
# pair is a candidate iff its canonical pair is, with an identical
# cosine (same input doubles, same fold), and (b) every within-group
# pair collides in ALL bands (≥ 2) with cosine cos(c,c) — computed via
# the same x/(√x·√x) expression, NOT assumed to be 1.0 (it is 1±2ulp).
#
# Scale shape: stage 1 is q22's one hash-groupBy shuffle (keyed on the
# vector bytes); stage 2 is q49's banded join over the SMALLER canonical
# set; stage 3 is two keyed equi-joins of the member map onto the
# canonical pair set (output-sized — the expansion is the answer, the
# quadratic work never re-enters the candidate stage).


def _duck_canonical_neardup_oracle() -> str:
    cos = (
        f"{_duck_dot('p.e', 'c.e')} / "
        f"(sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('c.e', 'c.e')}))"
    )
    return f"""
    WITH {_duck_neardup_cte()},
    g AS (SELECT vec_id, min(vec_id) OVER (PARTITION BY embedding) AS canon
          FROM embeddings)
    SELECT cand.vec_a, cand.vec_b,
           ga.canon AS canon_a, gb.canon AS canon_b,
           {cos} AS cosine
    FROM cand
    JOIN v p ON p.vec_id = cand.vec_a
    JOIN v c ON c.vec_id = cand.vec_b
    JOIN g ga ON ga.vec_id = cand.vec_a
    JOIN g gb ON gb.vec_id = cand.vec_b
    WHERE {cos} >= {NEARDUP_COS}
    """


@register(
    "q238_canonical_neardup",
    oracle=_duck_canonical_neardup_oracle(),
    doc="exact-dedup-first near-dup: one hash-groupBy collapses verbatim "
    "duplicates, q49's LSH pipeline runs on canonical vectors only, and "
    "duplicate groups re-expand by the keeper map; oracle is the "
    "naive-order computation (the composition is a pure physical rewrite)",
    tags=("dedup", "similarity", "llm"),
)
def q238_canonical_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    # stage 1 — exact dedup (q22's shape over vectors): the keeper map
    # is a partitioned window-min keyed on the raw vector, one shuffle;
    # materialized because it feeds the canonical set AND both
    # re-expansion joins
    w = Window.partitionBy("embedding")
    members = materialize(
        emb.select(
            "vec_id", "embedding", F.min("vec_id").over(w).alias("canon_id")
        ),
        "q238_members",
    )
    cv = members.filter(F.col("vec_id") == F.col("canon_id")).select(
        "vec_id", _to_double("embedding").alias("e")
    )
    # stage 2 — q49's pipeline, canonical vectors only.  The band table
    # comes from the session ANN index RESTRICTED to canonical ids: a
    # vector's signature depends only on its embedding (same doubles,
    # same planes, same fold), so the semi-join filter of the full
    # banded substrate is bit-identical to re-deriving signatures over
    # cv — and skips the 16 interpreted hyperplane dot products per
    # canonical vector that r14 profiling measured as ~2/3 of this
    # query's candidate-stage cost (guide §1.2 step 2).  At scale this
    # is the index-serving shape: the exact-dedup keeper set prunes the
    # shared banded index by key instead of re-hashing the corpus.
    cbands = _lsh_bands_substrate(spark, sf_dir).join(
        cv.select("vec_id"), "vec_id", "semi"
    )
    cpairs = _neardup_pairs(cv, bands=cbands)
    mm = members.select("vec_id", "canon_id")

    # stage 3a — cross-group expansion: canonical pair × both member
    # lists (keyed equi-joins); output pair is (least, greatest) with
    # canon columns following the swap
    ma = mm.select(F.col("canon_id").alias("vec_a"), F.col("vec_id").alias("m_a"))
    mb = mm.select(F.col("canon_id").alias("vec_b"), F.col("vec_id").alias("m_b"))
    a_first = F.col("m_a") <= F.col("m_b")
    cross = (
        cpairs.join(ma, "vec_a")
        .join(mb, "vec_b")
        .select(
            F.least("m_a", "m_b").alias("out_a"),
            F.greatest("m_a", "m_b").alias("out_b"),
            F.when(a_first, F.col("vec_a")).otherwise(F.col("vec_b")).alias("canon_a"),
            F.when(a_first, F.col("vec_b")).otherwise(F.col("vec_a")).alias("canon_b"),
            "cosine",
        )
    )
    # stage 3b — within-group pairs: all member pairs of each dup group,
    # cosine = cos(c, c) via the SAME x/(√x·√x) expression the naive
    # order evaluates (1 ± 2ulp, never assumed 1.0), threshold kept
    selfcos = _dot(F.col("e"), F.col("e")) / (
        F.sqrt(_dot(F.col("e"), F.col("e"))) * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    cself = cv.select(F.col("vec_id").alias("canon_id"), selfcos.alias("cosine"))
    ga = mm.select("canon_id", F.col("vec_id").alias("m_a"))
    gb = mm.select("canon_id", F.col("vec_id").alias("m_b"))
    ingroup = (
        ga.join(gb, "canon_id")
        .filter(F.col("m_a") < F.col("m_b"))
        .join(cself, "canon_id")
        .filter(F.col("cosine") >= NEARDUP_COS)
        .select(
            F.col("m_a").alias("out_a"),
            F.col("m_b").alias("out_b"),
            F.col("canon_id").alias("canon_a"),
            F.col("canon_id").alias("canon_b"),
            "cosine",
        )
    )
    return cross.unionByName(ingroup).select(
        F.col("out_a").alias("vec_a"),
        F.col("out_b").alias("vec_b"),
        "canon_a",
        "canon_b",
        "cosine",
    )


# ---------------------------------------------------------------------------
# q50 — IVF (inverted-file) ANN: assign every vector to its nearest coarse
# centroid (broadcast map-side — no shuffle of the big table), then each
# probe searches only the N_PROBE_LISTS nearest centroid lists. The
# candidate join is an equi-join on cent_id — partitioned, never all-pairs.
# Centroids here are fixed sample vectors (CENT_IDS); a k-means refinement
# changes the centroid VALUES, not the plan shape.


def _duck_ivf_oracle() -> str:
    cos = (
        f"{_duck_dot('x.e', 'c.ce')} / "
        f"(sqrt({_duck_dot('x.e', 'x.e')}) * sqrt({_duck_dot('c.ce', 'c.ce')}))"
    )
    cent_list = ", ".join(str(i) for i in CENT_IDS)
    return f"""
    WITH v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id IN ({cent_list})),
    ranked AS (
      SELECT x.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {cos} DESC, c.cent_id) AS rk
      FROM v x CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, cent_id FROM ranked WHERE rk = 1),
    probe_lists AS (
      SELECT vec_id AS probe_id, cent_id FROM ranked
      WHERE rk <= {N_PROBE_LISTS} AND vec_id < {N_PROBES}
    ),
    cand AS (
      SELECT DISTINCT pl.probe_id, a.vec_id AS neighbor_id
      FROM probe_lists pl JOIN assign a ON a.cent_id = pl.cent_id
      WHERE a.vec_id <> pl.probe_id
    ),
    scored AS (
      SELECT cand.probe_id, cand.neighbor_id,
             {_duck_dot('p.e', 'n.e')} /
               (sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('n.e', 'n.e')})) AS cosine
      FROM cand
      JOIN v p ON p.vec_id = cand.probe_id
      JOIN v n ON n.vec_id = cand.neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {TOP_K}
    """



def _ivf_ranked_substrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cent_id, rk) — every vector's centroids ranked by cosine
    (the IVF coarse index: rk = 1 is the posting-list assignment, rk <=
    nprobe are a probe's lists).  One session-wide build through the
    memo_substrate seam serves q50's serve path, q145's purity audit
    and q217's filtered search; q211 deliberately keeps its own build —
    its subject IS the build->publish->serve cycle.  The rk ranking is
    a deterministic row_number over the per-vector cosine ordering
    (ties to the lower cent_id), so the integer table round-trips
    parquet exactly."""

    def build() -> DataFrame:
        emb = scale_out(
            load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        )
        v = emb.select("vec_id", _to_double("embedding").alias("e"))
        cents = F.broadcast(
            v.filter(F.col("vec_id").isin(CENT_IDS)).select(
                F.col("vec_id").alias("cent_id"), F.col("e").alias("ce")
            )
        )
        cos_to_cent = _dot(F.col("e"), F.col("ce")) / (
            F.sqrt(_dot(F.col("e"), F.col("e")))
            * F.sqrt(_dot(F.col("ce"), F.col("ce")))
        )
        w_assign = Window.partitionBy("vec_id").orderBy(
            F.desc("cc"), F.asc("cent_id")
        )
        return (
            v.crossJoin(cents)
            .select("vec_id", "cent_id", cos_to_cent.alias("cc"))
            .withColumn("rk", F.row_number().over(w_assign))
            .select("vec_id", "cent_id", "rk")
        )

    return memo_substrate(spark, "ivf_ranked", sf_dir, build)

@register(
    "q50_ivf_topk",
    oracle=_duck_ivf_oracle(),
    doc="IVF ANN: broadcast centroid assign, nprobe=2 list search, exact re-rank",
    tags=("similarity", "llm"),
)
def q50_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the HOF dot products below are interpreted and compute-bound:
    # never inherit a one-row-group scan's single-partition layout
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    # session-wide coarse index (see _ivf_ranked_substrate)
    ranked = _ivf_ranked_substrate(spark, sf_dir)
    assign = ranked.filter(F.col("rk") == 1).select("vec_id", "cent_id")
    probe_lists = (
        ranked.filter((F.col("rk") <= N_PROBE_LISTS) & (F.col("vec_id") < N_PROBES))
        .select(F.col("vec_id").alias("probe_id"), "cent_id")
    )
    cand = (
        F.broadcast(probe_lists)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    pv = v.select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"))
    nv = v.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"))
    cosine = _dot(F.col("pe"), F.col("ne")) / (
        F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ne"), F.col("ne")))
    )
    scored = (
        cand.join(F.broadcast(pv), "probe_id")
        .join(nv, "neighbor_id")
        .select("probe_id", "neighbor_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# q94 — k-means refinement: two Lloyd iterations over the q50 seed
# centroids, computed in EXACT integer arithmetic so the iterative
# algorithm itself is oracle-checkable (iterative ops are usually exempted
# from the SQL gate; quantization removes the float-summation-order
# nondeterminism that forces that exemption).
#
# Determinism: operators/centroids.py owns the rule every exact-integer
# pipeline here shares — squared distances to an undivided mean-centroid
# (cs, n) compared as Σ_d (n·xq − cs_d)² in DECIMAL(19,0), ties toward
# the lower cluster id — so every assignment, and therefore every next
# centroid, is bit-identical in Spark and DuckDB.
#
# Scale shape: centroid tables are K·DIM rows (512 here) — broadcast,
# never shuffled; each round is sq_dists (one broadcast join over the
# shared quantized fact, rows = N·DIM) -> nearest -> centroid_update
# (the N-row assignment broadcasts back into the fact), chained lazily
# with no materialization between rounds. Reference parallel: the
# reference has no iterative ML surface; this extends the engine for
# LLM-pipeline clustering (IVF list training for q50's index).

KMEANS_SCALE = 1_000_000.0

def _xq_substrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared quantized per-dim embedding fact: (vec_id, dim, xq) with
    xq = floor(x * KMEANS_SCALE) — the ``xq`` input of the
    operators/centroids.py nearest-centroid operator for FIVE pipelines
    (q94 Lloyd, q101 PQ codes, q107 drift, q175 IVF-PQ, q235 learned
    SemDeDup; q230 reads its (dim, xq) slice).
    Built ONCE per (session, sf_dir) through the memo_substrate seam —
    the same corpus-snapshot policy as the shingle/LSH-pair tables —
    instead of one explode+quantize pass per consumer per invocation."""

    def build() -> DataFrame:
        emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
        return emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "x")
        ).select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.floor(F.col("x").cast("double") * F.lit(KMEANS_SCALE))
            .cast("bigint")
            .alias("xq"),
        )

    return memo_substrate(spark, "kmeans_xq", sf_dir, build)


def _seed_cents(xq: DataFrame) -> DataFrame:
    """(cluster, dim, cs, n): the CENT_IDS vectors as one-member
    centroids — q94/q107/q175's seeds and q101/q175's PQ codebook."""
    return xq.filter(F.col("vec_id").isin(CENT_IDS)).select(
        F.col("vec_id").alias("cluster"),
        "dim",
        F.col("xq").alias("cs"),
        F.lit(1).cast("bigint").alias("n"),
    )


KMEANS_ITERS = 2  # fixed, unrolled in the oracle


def _duck_kmeans_oracle() -> str:
    cent_list = ", ".join(str(c) for c in CENT_IDS)
    return f"""
    WITH xq AS (
      -- two equal-length unnests in one SELECT zip positionally
      -- (this DuckDB has no WITH ORDINALITY)
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE})
                              AS BIGINT))) AS xq
      FROM embeddings
    ),
    c1 AS (SELECT vec_id AS cluster, dim, xq AS cs, CAST(1 AS BIGINT) AS n
           FROM xq WHERE vec_id IN ({cent_list})),
    d1 AS (
      SELECT x.vec_id, c.cluster,
             sum(CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))
                 * CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))) AS dist
      FROM xq x JOIN c1 c USING (dim) GROUP BY 1, 2
    ),
    a1 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cluster) AS rn
             FROM d1) WHERE rn = 1),
    c2 AS (SELECT a.cluster, x.dim, CAST(sum(x.xq) AS BIGINT) AS cs,
                  count(*) AS n
           FROM xq x JOIN a1 a USING (vec_id) GROUP BY 1, 2),
    d2 AS (
      SELECT x.vec_id, c.cluster,
             sum(CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))
                 * CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))) AS dist
      FROM xq x JOIN c2 c USING (dim) GROUP BY 1, 2
    ),
    a2 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cluster) AS rn
             FROM d2) WHERE rn = 1)
    SELECT a.cluster AS cluster_id, x.dim,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(x.xq) AS DOUBLE) / count(*) AS centroid
    FROM xq x JOIN a2 a USING (vec_id)
    GROUP BY 1, 2
    """


@register(
    "q94_kmeans_refine",
    oracle=_duck_kmeans_oracle(),
    doc="k-means Lloyd refinement (2 iterations), exact-integer argmin; "
    "broadcast centroids, per-dim fact stays partition-local",
    tags=("similarity", "llm", "iterative"),
)
def q94_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared quantized per-dim substrate (one build per session serves
    # all five exact-integer embedding pipelines — see _xq_substrate)
    xq = _xq_substrate(spark, sf_dir)
    cent = _seed_cents(xq)
    for _ in range(KMEANS_ITERS):
        cent = centroid_update(xq, nearest(sq_dists(xq, cent)))
    return cent.select(
        F.col("cluster").alias("cluster_id"),
        "dim",
        F.col("n").alias("n_members"),
        (F.col("cs").cast("double") / F.col("n")).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# q101 — product quantization (PQ) codebook assignment, the compression
# half of an IVF-PQ index: each 64-dim vector splits into N_SUBSPACES
# contiguous subvectors, and each subvector is coded as the id of its
# nearest codeword (here the CENT_IDS vectors' subvectors — the same
# fixed "training sample" q50 uses as coarse centroids). Output is the
# codebook-usage histogram plus the exact total quantization error per
# (subspace, code) — the tableau a PQ trainer inspects for balance.
#
# Same determinism scheme as q94: quantize to integer micro-units once,
# compare squared distances in exact DECIMAL arithmetic, tie-break
# toward the lower code id — bit-identical argmin in both engines.
#
# Scale shape: the codebook is N_SUBSPACES × K × SUB_DIM rows (512 here)
# — broadcast; the per-dim fact joins it once, and the two aggregations
# are partial-combined shuffles on (vec, subspace) then (subspace,
# code). Vectors never pairwise-join anything.

N_SUBSPACES = 8
SUB_DIM = DIM // N_SUBSPACES  # 8


def _subspaces(xq: DataFrame) -> DataFrame:
    """(vec_id, subspace, dim, xq): the quantized fact keyed by PQ
    subspace (dim div SUB_DIM, truncating)."""
    return xq.select(
        "vec_id",
        (F.col("dim") / SUB_DIM).cast("int").alias("subspace"),
        "dim",
        "xq",
    )


def _duck_pq_oracle() -> str:
    cent_list = ", ".join(str(c) for c in CENT_IDS)
    return f"""
    WITH xq AS (
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE})
                              AS BIGINT))) AS xq
      FROM embeddings
    ),
    sub AS (SELECT vec_id, dim // {SUB_DIM} AS subspace, dim, xq FROM xq),
    cb AS (SELECT subspace, vec_id AS code, dim, xq AS cq
           FROM sub WHERE vec_id IN ({cent_list})),
    d AS (
      SELECT s.vec_id, s.subspace, c.code,
             sum(CAST(s.xq - c.cq AS DECIMAL(19,0))
                 * CAST(s.xq - c.cq AS DECIMAL(19,0))) AS dist
      FROM sub s JOIN cb c ON c.subspace = s.subspace AND c.dim = s.dim
      GROUP BY 1, 2, 3
    ),
    a AS (SELECT vec_id, subspace, code, dist FROM (
            SELECT vec_id, subspace, code, dist,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY dist, code) AS rn
            FROM d) WHERE rn = 1)
    SELECT subspace, code,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(CAST(sum(dist) AS VARCHAR) AS DOUBLE) / {KMEANS_SCALE} / {KMEANS_SCALE}
             AS total_sq_error
    FROM a GROUP BY 1, 2
    """


@register(
    "q101_pq_codes",
    oracle=_duck_pq_oracle(),
    doc="product-quantization code assignment (8 subspaces x 8 codewords), "
    "exact-integer argmin; broadcast codebook, no pairwise vector join",
    tags=("similarity", "llm"),
)
def q101_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PQ codebook = the seed vectors; its rows need no subspace key
    # because dim determines the subspace on both sides of the join
    key = ("vec_id", "subspace")
    xq = _xq_substrate(spark, sf_dir)
    best = nearest(sq_dists(_subspaces(xq), _seed_cents(xq), by=key), by=key)
    return best.groupBy("subspace", F.col("cluster").alias("code")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum("dist").cast("double") / F.lit(KMEANS_SCALE) / F.lit(KMEANS_SCALE)).alias(
            "total_sq_error"
        ),
    )


# ---------------------------------------------------------------------------
# q106 — hard-negative mining for contrastive training: for each probe,
# the most-similar candidates that are NOT near-duplicates — lexically
# close enough to share an LSH bucket, cosine inside [LO, HI) below the
# q49 near-dup threshold. These are the negatives that actually teach an
# embedding model (random negatives are trivially separable; near-dups
# would be false negatives).
#
# Scale shape: identical to q32's — candidates come only from shared
# band buckets (never all-pairs), the probe set broadcasts, and the
# final per-probe top-k is a bounded window over the candidate set.

HARD_NEG_LO = 0.05
HARD_NEG_K = 3


def _duck_hardneg_oracle() -> str:
    bits = ", ".join(
        f"(CASE WHEN {_duck_dot('e', _duck_plane(PLANES[h]))} > 0 THEN 1 ELSE 0 END) AS bit{h}"
        for h in range(N_PLANES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT vec_id, e, {j} AS band, concat_ws('', {bits}) AS bkey FROM sig".format(
            j=j,
            bits=", ".join(f"bit{j * BITS_PER_BAND + k}" for k in range(BITS_PER_BAND)),
        )
        for j in range(N_BANDS)
    )
    return f"""
    WITH v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    sig AS (SELECT vec_id, e, {bits} FROM v),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
      FROM bands p JOIN bands c
        ON p.band = c.band AND p.bkey = c.bkey
       AND p.vec_id < {N_PROBES} AND c.vec_id <> p.vec_id
    ),
    scored AS (
      SELECT cand.probe_id, cand.neighbor_id,
             {_duck_dot('p.e', 'c.e')} /
               (sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('c.e', 'c.e')})) AS cosine
      FROM cand
      JOIN v p ON p.vec_id = cand.probe_id
      JOIN v c ON c.vec_id = cand.neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
    WHERE cosine >= {HARD_NEG_LO} AND cosine < {NEARDUP_COS}
    QUALIFY rank <= {HARD_NEG_K}
    """


@register(
    "q106_hard_negatives",
    oracle=_duck_hardneg_oracle(),
    doc="contrastive hard-negative mining: same-LSH-bucket candidates in "
    f"the [{HARD_NEG_LO}, {NEARDUP_COS}) cosine band, top-{HARD_NEG_K} per probe",
    tags=("similarity", "llm"),
)
def q106_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    bands = _signatures(v)
    a = bands.alias("a").hint("shuffle_hash")
    b = bands.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.lit(N_PROBES))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    pv = F.broadcast(v.select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")))
    cv = F.broadcast(v.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce")))
    cosine = _dot(F.col("pe"), F.col("ce")) / (
        F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ce"), F.col("ce")))
    )
    scored = (
        cand.join(pv, "probe_id")
        .join(cv, "neighbor_id")
        .select("probe_id", "neighbor_id", cosine.alias("cosine"))
        .filter((F.col("cosine") >= HARD_NEG_LO) & (F.col("cosine") < NEARDUP_COS))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HARD_NEG_K)
    )


# ---------------------------------------------------------------------------
# q107 — embedding drift monitor: did a new ingest batch shift the
# embedding distribution? Vectors are split into two batches (vec_id
# parity stands in for yesterday/today), each batch is assigned to the
# fixed seed centroids, and the per-cluster report gives both population
# counts and the squared displacement between the two batch centroids.
# A cluster whose centroid moves (or empties) after a model/encoder
# change is the canonical embedding-pipeline regression signal.
#
# Exactness: batch centroids are rationals cs/n in integer micro-units;
# the displacement compares them WITHOUT dividing —
# Σ_d (n_b·cs_a − n_a·cs_b)² in DECIMAL(19,0)² — then normalizes by
# (n_a·n_b·SCALE)² once, in double, at the very end. Same argmin
# machinery as q94, so both engines agree bit-for-bit.
#
# Scale shape: one broadcast join against the seed table for
# assignment, two partial-combined aggregations; nothing pairwise.


@register(
    "q107_embedding_drift",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE})
                              AS BIGINT))) AS xq
      FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cluster, dim, xq AS cs
              FROM xq WHERE vec_id IN ({", ".join(str(c) for c in CENT_IDS)})),
    d AS (
      SELECT x.vec_id, s.cluster,
             sum(CAST(x.xq - s.cs AS DECIMAL(19,0))
                 * CAST(x.xq - s.cs AS DECIMAL(19,0))) AS dist
      FROM xq x JOIN seeds s USING (dim) GROUP BY 1, 2
    ),
    a AS (SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d) WHERE rn = 1),
    cent AS (
      SELECT a.cluster, x.vec_id % 2 AS batch, x.dim,
             CAST(sum(x.xq) AS BIGINT) AS cs, count(*) AS n
      FROM xq x JOIN a USING (vec_id) GROUP BY 1, 2, 3
    ),
    paired AS (
      SELECT p.cluster, p.dim, p.cs AS cs_a, p.n AS n_a, q.cs AS cs_b, q.n AS n_b
      FROM cent p JOIN cent q
        ON p.cluster = q.cluster AND p.dim = q.dim
       AND p.batch = 0 AND q.batch = 1
    )
    SELECT cluster AS cluster_id,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(CAST(sum(CAST(n_b * cs_a - n_a * cs_b AS DECIMAL(19,0))
                    * CAST(n_b * cs_a - n_a * cs_b AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
             / (max(n_a) * max(n_b) * {KMEANS_SCALE})
             / (max(n_a) * max(n_b) * {KMEANS_SCALE}) AS drift_sq
    FROM paired GROUP BY cluster
    """,
    doc="embedding drift monitor: per-cluster batch populations and exact "
    "squared centroid displacement between two ingest batches",
    tags=("similarity", "llm", "quality"),
)
def q107_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared quantized substrate (feeds seeds, assignment, both batch
    # aggs — one session-wide build, see _xq_substrate)
    xq = _xq_substrate(spark, sf_dir)
    assign = nearest(sq_dists(xq, _seed_cents(xq)))
    cent = (
        xq.join(assign, "vec_id")
        .groupBy("cluster", (F.col("vec_id") % 2).alias("batch"), "dim")
        .agg(F.sum("xq").alias("cs"), F.count(F.lit(1)).alias("n"))
    )
    p = cent.filter(F.col("batch") == 0).select(
        "cluster", "dim", F.col("cs").alias("cs_a"), F.col("n").alias("n_a")
    )
    q = cent.filter(F.col("batch") == 1).select(
        "cluster", "dim", F.col("cs").alias("cs_b"), F.col("n").alias("n_b")
    )
    num_sq = exact_sq(F.col("n_b") * F.col("cs_a") - F.col("n_a") * F.col("cs_b"))
    return (
        p.join(q, ["cluster", "dim"])
        .groupBy(F.col("cluster").alias("cluster_id"))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            (
                F.sum(num_sq).cast("double")
                / (F.max("n_a") * F.max("n_b") * F.lit(KMEANS_SCALE))
                / (F.max("n_a") * F.max("n_b") * F.lit(KMEANS_SCALE))
            ).alias("drift_sq"),
        )
    )


# ---------------------------------------------------------------------------
# q139 — int8 vector quantization (the serving-side compression step for
# ANN indexes: 4x smaller than float32, SIMD-friendly dot products).
# Per-vector symmetric scheme: scale = max|x_i|, code_i =
# floor(x_i * 127 / scale + 0.5). Map-only over the embedding column —
# embarrassingly parallel at any scale, no shuffle at all; the output
# summary (integer checksum over position-weighted codes, clip/zero
# tallies, quantized scale) is integer-exact so the cross-engine hash
# can't wobble. Every arithmetic step is a deterministic IEEE op on
# identical double inputs (mul/div/add/floor — no transcendentals, no
# float SUM reorder; the checksum sums int64s).

@register(
    "q139_int8_quantize",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    s AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
    c AS (
      SELECT vec_id, scale,
             list_transform(e, x -> CASE WHEN scale = 0 THEN 0
                                         ELSE CAST(floor(x * 127.0 / scale + 0.5)
                                                   AS INTEGER) END) AS codes
      FROM s
    )
    SELECT vec_id,
           CAST(floor(scale * 1000000) AS BIGINT) AS scale_micros,
           CAST(list_sum(list_transform(codes, (x, i) -> CAST(x AS BIGINT) * i))
                AS BIGINT) AS checksum,
           CAST(len(list_filter(codes, x -> abs(x) = 127)) AS BIGINT) AS n_clipped,
           CAST(len(list_filter(codes, x -> x = 0)) AS BIGINT) AS n_zero
    FROM c
    """,
    doc="symmetric int8 vector quantization for ANN serving: map-only, "
    "zero shuffles; integer-exact summary (position-weighted checksum, "
    "clip/zero tallies) keeps cross-engine parity",
    tags=("similarity", "llm"),
)
def q139_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    e = _to_double("embedding")
    scale = F.array_max(F.transform(e, lambda x: F.abs(x)))
    codes = F.transform(
        e,
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.floor(x * 127.0 / F.col("scale") + 0.5).cast("int")
        ),
    )
    # position-weighted integer checksum: codes ⊙ (1..dim), summed in int64
    weighted = F.zip_with(
        F.col("codes"),
        F.sequence(F.lit(1), F.size("codes")),
        lambda c, i: c.cast("bigint") * i,
    )
    return (
        emb.select("vec_id", "embedding", scale.alias("scale"))
        .withColumn("codes", codes)
        .select(
            "vec_id",
            F.floor(F.col("scale") * 1000000).cast("bigint").alias("scale_micros"),
            F.aggregate(weighted, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
                "checksum"
            ),
            F.size(F.filter("codes", lambda c: F.abs(c) == 127))
            .cast("bigint")
            .alias("n_clipped"),
            F.size(F.filter("codes", lambda c: c == 0)).cast("bigint").alias("n_zero"),
        )
    )


# ---------------------------------------------------------------------------
# q145 — cluster-purity audit against ground-truth labels: the standard
# clustering-evaluation join (how well do IVF lists line up with the
# `label` column). Assignment is q50's posting-list assignment, read
# from the session-wide IVF index (_ivf_ranked_substrate, rk = 1:
# argmax-cosine, ties to the lower centroid id); purity is pure
# counting — contingency (centroid × label) then majority label per
# centroid — so the only float in the output is one int/int division.
# At scale: no assignment pass of its own, one shuffle on (cent_id,
# label) whose domain is K × |labels| (bounded), then a K-row window.
# Purity ≈ 1 means the index partitions like the labels; a centroid
# with low purity is where ANN recall against label-matched neighbors
# degrades first.

@register(
    "q145_cluster_purity",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, e AS ce FROM v
              WHERE vec_id IN ({", ".join(str(i) for i in CENT_IDS)})),
    ranked AS (
      SELECT x.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {_duck_dot('x.e', 'c.ce')} /
                                  (sqrt({_duck_dot('x.e', 'x.e')}) *
                                   sqrt({_duck_dot('c.ce', 'c.ce')})) DESC,
                                  c.cent_id) AS rk
      FROM v x CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, cent_id FROM ranked WHERE rk = 1),
    cont AS (
      SELECT a.cent_id, e.label, count(*) AS n
      FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    top AS (
      SELECT cent_id, label AS top_label, n AS top_count,
             row_number() OVER (PARTITION BY cent_id
                                ORDER BY n DESC, label) AS rk
      FROM cont
    )
    SELECT c.cent_id,
           CAST(sum(c.n) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_labels,
           CAST(max(t.top_label) AS BIGINT) AS top_label,
           CAST(max(t.top_count) AS BIGINT) AS top_count,
           CAST(max(t.top_count) AS DOUBLE) / sum(c.n) AS purity
    FROM cont c JOIN top t ON t.cent_id = c.cent_id AND t.rk = 1
    GROUP BY c.cent_id
    """,
    doc="cluster-purity audit: q50's centroid assignment x ground-truth "
    "labels; contingency counts + majority label per centroid (bounded-"
    "domain aggregate, K-row window)",
    tags=("similarity", "llm", "ml"),
)
def q145_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    # q50's posting-list assignment, served from the session-wide index
    assign = (
        _ivf_ranked_substrate(spark, sf_dir)
        .filter(F.col("rk") == 1)
        .select("vec_id", "cent_id")
    )
    cont = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cent_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_top = Window.partitionBy("cent_id").orderBy(F.desc("n"), F.asc("label"))
    top = (
        cont.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select("cent_id", F.col("label").alias("top_label"), F.col("n").alias("top_count"))
    )
    per_cent = cont.groupBy("cent_id").agg(
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
    )
    return per_cent.join(F.broadcast(top), "cent_id").select(
        "cent_id",
        "n_vecs",
        "n_labels",
        F.col("top_label").cast("bigint").alias("top_label"),
        F.col("top_count").cast("bigint").alias("top_count"),
        (F.col("top_count").cast("double") / F.col("n_vecs")).alias("purity"),
    )


# ---------------------------------------------------------------------------
# q175 — IVF-PQ asymmetric-distance search: the SERVING path of the
# index whose two halves q50 (coarse IVF lists) and q101 (PQ codes)
# train.  A probe (a) ranks the coarse centroids and visits nprobe=2
# lists, (b) builds a tiny lookup table of probe-subvector→codeword
# distances (N_PROBES × N_SUBSPACES × K rows — broadcast), and (c)
# scores every candidate WITHOUT touching its raw vector: ADC distance
# = Σ_subspace lut[probe, subspace, code(candidate, subspace)].  At
# 100 TB this is the whole point of PQ — candidate scoring joins an
# 8-row-per-vector CODE table against a broadcast LUT (integer adds),
# never the 64-dim float vectors.  Everything is quantized to integer
# micro-units with exact DECIMAL argmins (q94's determinism scheme), so
# assignment, codes, LUT, and the final ranking are bit-identical in
# both engines.


def _duck_ivfpq_oracle() -> str:
    cent_list = ", ".join(str(c) for c in CENT_IDS)
    sq = ("CAST(x.xq - c.cs AS DECIMAL(19,0)) "
          "* CAST(x.xq - c.cs AS DECIMAL(19,0))")
    sqc = ("CAST(s.xq - c.cq AS DECIMAL(19,0)) "
           "* CAST(s.xq - c.cq AS DECIMAL(19,0))")
    return f"""
    WITH xq AS (
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE})
                              AS BIGINT))) AS xq
      FROM embeddings
    ),
    coarse AS (SELECT vec_id AS cent_id, dim, xq AS cs FROM xq
               WHERE vec_id IN ({cent_list})),
    cdist AS (
      SELECT x.vec_id, c.cent_id, sum({sq}) AS dist
      FROM xq x JOIN coarse c USING (dim) GROUP BY 1, 2
    ),
    assign AS (SELECT vec_id, cent_id FROM (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cent_id) AS rn
      FROM cdist) WHERE rn = 1),
    plists AS (SELECT vec_id AS probe_id, cent_id FROM (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cent_id) AS rn
      FROM cdist WHERE vec_id < {N_PROBES}) WHERE rn <= {N_PROBE_LISTS}),
    sub AS (SELECT vec_id, dim // {SUB_DIM} AS subspace, dim, xq FROM xq),
    cb AS (SELECT subspace, vec_id AS code, dim, xq AS cq
           FROM sub WHERE vec_id IN ({cent_list})),
    code_d AS (
      SELECT s.vec_id, s.subspace, c.code, sum({sqc}) AS dist
      FROM sub s JOIN cb c ON c.subspace = s.subspace AND c.dim = s.dim
      GROUP BY 1, 2, 3
    ),
    codes AS (SELECT vec_id, subspace, code FROM (
      SELECT vec_id, subspace, code,
             row_number() OVER (PARTITION BY vec_id, subspace
                                ORDER BY dist, code) AS rn
      FROM code_d) WHERE rn = 1),
    lut AS (
      SELECT s.vec_id AS probe_id, s.subspace, c.code, sum({sqc}) AS lut_dist
      FROM sub s JOIN cb c ON c.subspace = s.subspace AND c.dim = s.dim
      WHERE s.vec_id < {N_PROBES}
      GROUP BY 1, 2, 3
    ),
    cand AS (
      SELECT p.probe_id, a.vec_id AS neighbor_id
      FROM plists p JOIN assign a USING (cent_id)
      WHERE a.vec_id <> p.probe_id
    ),
    adc AS (
      SELECT cand.probe_id, cand.neighbor_id,
             CAST(sum(l.lut_dist) AS BIGINT) AS adc_dist
      FROM cand
      JOIN codes k ON k.vec_id = cand.neighbor_id
      JOIN lut l ON l.probe_id = cand.probe_id
               AND l.subspace = k.subspace AND l.code = k.code
      GROUP BY 1, 2
    )
    SELECT probe_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY adc_dist, neighbor_id) AS INT)
             AS rank
    FROM adc QUALIFY rank <= {TOP_K}
    """


@register(
    "q175_ivfpq_adc_topk",
    oracle=_duck_ivfpq_oracle(),
    doc="IVF-PQ asymmetric-distance top-k: nprobe=2 coarse lists, "
    "broadcast probe->codeword LUT, candidates scored from 8 code rows "
    "each (never their raw vectors); exact-integer argmins throughout",
    tags=("similarity", "llm"),
)
def q175_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared quantized substrate (feeds coarse assign, codes, the LUT)
    xq = _xq_substrate(spark, sf_dir)
    # the seed vectors are both the coarse centroids and the PQ codebook
    seeds = _seed_cents(xq)
    cdist = sq_dists(xq, seeds)
    assign = nearest(cdist).select("vec_id", F.col("cluster").alias("cent_id"))
    w_probe = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    plists = (
        cdist.filter(F.col("vec_id") < N_PROBES)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE_LISTS)
        .select(F.col("vec_id").alias("probe_id"), F.col("cluster").alias("cent_id"))
    )
    key = ("vec_id", "subspace")
    sub = _subspaces(xq)
    codes = nearest(sq_dists(sub, seeds, by=key), by=key).select(
        F.col("vec_id").alias("neighbor_id"),
        "subspace",
        F.col("cluster").alias("code"),
    )
    lut = sq_dists(sub.filter(F.col("vec_id") < N_PROBES), seeds, by=key).select(
        F.col("vec_id").alias("probe_id"),
        "subspace",
        F.col("cluster").alias("code"),
        F.col("dist").alias("lut_dist"),
    )
    # (probe, neighbor) is already unique: each neighbor sits in exactly
    # one coarse list — no DISTINCT needed (and none in the oracle).
    cand = (
        F.broadcast(plists)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["probe_id", "subspace", "code"])
        .groupBy("probe_id", "neighbor_id")
        .agg(F.sum("lut_dist").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("probe_id").orderBy("adc_dist", "neighbor_id")
    return adc.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= TOP_K
    )


# ---------------------------------------------------------------------------
# q198 — inter-label centroid separation: how far apart the embedding
# classes sit — the class-separability audit run after (re)training an
# encoder, complementing q107's batch-drift monitor and q145's purity
# audit.  Label centroids are rationals cs/n kept UNDIVIDED in integer
# micro-units; the pairwise squared separation compares them exactly as
# Σ_d (n_b·cs_a − n_a·cs_b)² in DECIMAL arithmetic (q107's displacement
# scheme), normalized by (n_a·n_b·SCALE)² once, in double, at the very
# end.  Work: one per-(label, dim) aggregate — |labels|·DIM rows — then
# a broadcast-sized pairwise join over the bounded label set.

@register(
    "q198_label_separation",
    oracle=f"""
    WITH xq AS (
      SELECT label,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE})
                              AS BIGINT))) AS xq
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim, CAST(sum(xq) AS BIGINT) AS cs,
             CAST(count(*) AS BIGINT) AS n
      FROM xq GROUP BY label, dim
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             a.n AS n_a, b.n AS n_b,
             sum(CAST(b.n * a.cs - a.n * b.cs AS DECIMAL(19,0))
                 * CAST(b.n * a.cs - a.n * b.cs AS DECIMAL(19,0))) AS num
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(CAST(num AS VARCHAR) AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * n_b * {KMEANS_SCALE})
             / (CAST(n_a AS DOUBLE) * n_b * {KMEANS_SCALE})
             AS sq_separation
    FROM pairs
    """,
    doc="inter-label centroid separation: undivided integer centroids, "
    "exact DECIMAL pairwise distance over the bounded label set; one "
    "per-(label,dim) aggregate + broadcast pairwise join",
    tags=("similarity", "llm", "A4"),
)
def q198_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    xq = emb.select("label", F.posexplode("embedding").alias("dim", "x")).select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(KMEANS_SCALE))
        .cast("bigint")
        .alias("xq"),
    )
    cent = xq.groupBy("label", "dim").agg(
        F.sum("xq").cast("bigint").alias("cs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("cs").alias("cs_a"),
        F.col("n").alias("n_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("cs").alias("cs_b"),
        F.col("n").alias("n_b"),
    )
    num_sq = exact_sq(F.col("n_b") * F.col("cs_a") - F.col("n_a") * F.col("cs_b"))
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("dim") == F.col("dim_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b", "n_a", "n_b")
        .agg(F.sum(num_sq).alias("num"))
    )
    norm = F.col("n_a").cast("double") * F.col("n_b") * F.lit(KMEANS_SCALE)
    return pairs.select(
        F.col("label_a").cast("bigint"),
        F.col("label_b").cast("bigint"),
        F.col("n_a").cast("bigint"),
        F.col("n_b").cast("bigint"),
        (F.col("num").cast("double") / norm / norm).alias("sq_separation"),
    )


# ---------------------------------------------------------------------------
# q201 — ANN recall@k audit: how much of the EXACT cosine top-k does
# each approximate index recover, per probe?  Composes the three
# registered pipelines — q31 (exact baseline), q32 (LSH-bucketed ANN),
# q175 (IVF-PQ ADC) — and intersects their (probe, neighbor) top-k
# sets.  Deterministic by construction: the intersection is an integer
# count over identical rank-truncated sets, so recall regressions in
# the index parameters (bands, nprobe, codebooks) become hash-checkable
# numbers instead of anecdotes.  The oracle nests the three queries'
# own DuckDB oracles as subqueries — one source of truth per pipeline.
#
# Scale shape: the exact side is the documented small-probe-set
# baseline (N_PROBES·k rows after truncation); the joins below run on
# ≤ N_PROBES·k rows per side, so the audit itself is free — the cost IS
# the three audited pipelines.


def _ann_recall_oracle() -> str:
    from .registry import _REGISTRY

    q31 = _REGISTRY["q31_cosine_topk"].oracle
    q32 = _REGISTRY["q32_ann_lsh_topk"].oracle
    q175 = _REGISTRY["q175_ivfpq_adc_topk"].oracle
    return f"""
    WITH exact_k AS (SELECT probe_id, neighbor_id FROM ({q31}) x),
    lsh_k AS (SELECT probe_id, neighbor_id FROM ({q32}) y),
    ivfpq_k AS (SELECT probe_id, neighbor_id FROM ({q175}) z)
    SELECT e.probe_id,
           CAST(count(*) AS BIGINT) AS k_exact,
           CAST(count(l.neighbor_id) AS BIGINT) AS lsh_hits,
           CAST(count(l.neighbor_id) * 1000000 // count(*) AS BIGINT)
             AS lsh_recall_micros,
           CAST(count(i.neighbor_id) AS BIGINT) AS ivfpq_hits,
           CAST(count(i.neighbor_id) * 1000000 // count(*) AS BIGINT)
             AS ivfpq_recall_micros
    FROM exact_k e
    LEFT JOIN lsh_k l
      ON l.probe_id = e.probe_id AND l.neighbor_id = e.neighbor_id
    LEFT JOIN ivfpq_k i
      ON i.probe_id = e.probe_id AND i.neighbor_id = e.neighbor_id
    GROUP BY e.probe_id
    """


@register(
    "q201_ann_recall",
    oracle=_ann_recall_oracle(),
    doc=f"recall@{TOP_K} of LSH-ANN (q32) and IVF-PQ (q175) against the "
    "exact cosine top-k (q31), per probe; integer hit counts and "
    "micro-unit recall — the ANN-quality regression gate",
    tags=("similarity", "llm", "quality"),
)
def q201_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q31_cosine_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    lsh = q32_ann_lsh_topk(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.lit(1).alias("lhit")
    )
    ivfpq = q175_ivfpq_adc_topk(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.lit(1).alias("ihit")
    )
    # every side is rank-truncated to N_PROBES·TOP_K rows, so both
    # probe-side joins broadcast; each exact row matches ≤ 1 row per
    # index (pair-unique keys — no fan-out)
    return (
        exact.join(F.broadcast(lsh), ["probe_id", "neighbor_id"], "left")
        .join(F.broadcast(ivfpq), ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_exact"),
            F.count("lhit").cast("bigint").alias("lsh_hits"),
            F.expr("count(lhit) * 1000000 div count(1)")
            .cast("bigint")
            .alias("lsh_recall_micros"),
            F.count("ihit").cast("bigint").alias("ivfpq_hits"),
            F.expr("count(ihit) * 1000000 div count(1)")
            .cast("bigint")
            .alias("ivfpq_recall_micros"),
        )
    )


# ---------------------------------------------------------------------------
# q211 — IVF index persistence round trip: build the coarse index ONCE
# (centroid vectors + per-vector list assignment), publish both tables
# through the versioned parquet store (``sources/versioned.py``), then
# SERVE the probe queries from the persisted snapshot — the actual
# production ANN pattern (index build is the expensive batch job; query
# serving reads the published index, never rebuilds it).  The oracle is
# q50's oracle VERBATIM: served-from-disk results must be bit-identical
# to the inline build-and-serve, so any fidelity loss across
# write→publish→as-of-read (dropped rows, reordered lists, a stale
# pointer) breaks the hash.
#
# Scale shape: serving touches the index tables (assignment: N rows of
# two ids; centroids: K vectors, broadcast) plus the raw vectors for
# the exact re-rank of CANDIDATES only — the index build's crossJoin
# cost is paid at publish time, not per query.

@register(
    "q211_ivf_index_persistence",
    # the fidelity gate: the persisted-index serve must match q50's
    # inline build bit-for-bit, so the oracle IS q50's oracle
    oracle=_duck_ivf_oracle(),
    doc="IVF index built once, published via the versioned store, and "
    "served from the snapshot; results must hash-match q50's inline "
    "build (index-persistence fidelity gate)",
    tags=("similarity", "llm", "timetravel"),
)
def q211_ivf_index_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..sources.versioned import read_version, write_version

    base = scratch_dir("q211_ivf_index")

    # ---- build + publish (the batch index job) ----
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    # keep the broadcast hint on the JOIN side only: the same frame also
    # feeds a write_version below, and a hint riding into a write plan
    # is not part of any join relation — Catalyst drops it with a
    # HintErrorLogger warning (the r9 verdict's cosmetic item, traced
    # here in r10)
    cents_plain = v.filter(F.col("vec_id").isin(CENT_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("e").alias("ce")
    )
    cents = F.broadcast(cents_plain)
    cos_to_cent = _dot(F.col("e"), F.col("ce")) / (
        F.sqrt(_dot(F.col("e"), F.col("e"))) * F.sqrt(_dot(F.col("ce"), F.col("ce")))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("cc"), F.asc("cent_id"))
    ranked = (
        v.crossJoin(cents)
        .select("vec_id", "e", "cent_id", cos_to_cent.alias("cc"))
        .withColumn("rk", F.row_number().over(w_assign))
    )
    # independent publishes (distinct versioned dirs): overlap the two
    # write jobs (guide §2.6) instead of serializing their task tails
    from ..concurrency import run_concurrently

    run_concurrently(
        lambda: write_version(
            ranked.filter(F.col("rk") == 1).select("vec_id", "cent_id"),
            f"{base}/assign",
        ),
        lambda: write_version(
            cents_plain.select("cent_id", F.col("ce").alias("e")),
            f"{base}/centroids",
        ),
    )

    # ---- serve from the published snapshot ----
    assign = read_version(spark, f"{base}/assign")
    pcents = F.broadcast(
        read_version(spark, f"{base}/centroids").select(
            "cent_id", F.col("e").alias("ce")
        )
    )
    probes = v.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    p_cos = _dot(F.col("pe"), F.col("ce")) / (
        F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ce"), F.col("ce")))
    )
    w_probe = Window.partitionBy("probe_id").orderBy(F.desc("pc"), F.asc("cent_id"))
    probe_lists = (
        probes.crossJoin(pcents)
        .select("probe_id", "cent_id", p_cos.alias("pc"))
        .withColumn("rk", F.row_number().over(w_probe))
        .filter(F.col("rk") <= N_PROBE_LISTS)
        .select("probe_id", "cent_id")
    )
    cand = (
        F.broadcast(probe_lists)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    pv = v.select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"))
    nv = v.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"))
    cosine = _dot(F.col("pe"), F.col("ne")) / (
        F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ne"), F.col("ne")))
    )
    scored = (
        cand.join(F.broadcast(pv), "probe_id")
        .join(nv, "neighbor_id")
        .select("probe_id", "neighbor_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# q217 — FILTERED vector search: IVF ANN under a metadata predicate
# (the production "where label in (...)" vector-store query).  The
# subtlety this encodes: a post-filter on an unfiltered top-k silently
# returns fewer than k rows (or garbage recall) once the predicate is
# selective, so the filter must cut the CANDIDATE stream before
# scoring, and nprobe must widen to keep the candidate pool at the
# same effective size — here 2× q50's lists for a ~30%-selective
# predicate.  The filter itself composes with the scan: `label IN ...`
# is a pushable parquet predicate on the assignment side, so at 100 TB
# the posting-list scan skips row groups that can't satisfy it.
#
# Scale shape: identical to q50 (broadcast centroids, broadcast probe
# lists, keyed candidate join) — the ONLY change is the predicate on
# the candidate substrate and the widened probe count; both engines
# apply the filter before distance math, so the oracle proves the
# filter-before-score contract, not just the final rows.

FILTER_LABELS = (1, 4, 7)
N_PROBE_LISTS_FILTERED = 2 * N_PROBE_LISTS


def _duck_filtered_ann_oracle() -> str:
    cos = (
        f"{_duck_dot('x.e', 'c.ce')} / "
        f"(sqrt({_duck_dot('x.e', 'x.e')}) * sqrt({_duck_dot('c.ce', 'c.ce')}))"
    )
    cent_list = ", ".join(str(i) for i in CENT_IDS)
    lab_list = ", ".join(str(l) for l in FILTER_LABELS)
    return f"""
    WITH v AS (SELECT vec_id, label, {_duck_vec('embedding')} AS e FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id IN ({cent_list})),
    ranked AS (
      SELECT x.vec_id, x.label, c.cent_id,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {cos} DESC, c.cent_id) AS rk
      FROM v x CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, label, cent_id FROM ranked WHERE rk = 1),
    probe_lists AS (
      SELECT vec_id AS probe_id, cent_id FROM ranked
      WHERE rk <= {N_PROBE_LISTS_FILTERED} AND vec_id < {N_PROBES}
    ),
    cand AS (
      SELECT DISTINCT pl.probe_id, a.vec_id AS neighbor_id
      FROM probe_lists pl JOIN assign a ON a.cent_id = pl.cent_id
      WHERE a.vec_id <> pl.probe_id AND a.label IN ({lab_list})
    ),
    scored AS (
      SELECT cand.probe_id, cand.neighbor_id,
             {_duck_dot('p.e', 'n.e')} /
               (sqrt({_duck_dot('p.e', 'p.e')}) * sqrt({_duck_dot('n.e', 'n.e')})) AS cosine
      FROM cand
      JOIN v p ON p.vec_id = cand.probe_id
      JOIN v n ON n.vec_id = cand.neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {TOP_K}
    """


@register(
    "q217_filtered_ann",
    oracle=_duck_filtered_ann_oracle(),
    doc="metadata-filtered IVF vector search: label predicate cuts the "
    "candidate stream BEFORE scoring, nprobe widened 2x to hold the "
    "candidate pool under ~30% selectivity",
    tags=("similarity", "llm", "retrieval"),
)
def q217_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", "label", _to_double("embedding").alias("e"))
    # session-wide coarse index (see _ivf_ranked_substrate)
    ranked = _ivf_ranked_substrate(spark, sf_dir)
    # the metadata predicate lands on the assignment substrate — at a
    # persisted index (q211's store) this is a pushed parquet filter on
    # the posting lists, not a post-filter on scored results.  The label
    # column no longer rides the ranking window: it re-attaches with one
    # vec_id-keyed join of two N-row tables (broadcast at test SF via
    # AQE; a co-keyed narrow join at scale) — cheaper than re-running
    # the N x K ranking per query.
    assign = (
        ranked.filter(F.col("rk") == 1)
        .join(v.select("vec_id", "label"), "vec_id")
        .filter(F.col("label").isin(*FILTER_LABELS))
        .select("vec_id", "cent_id")
    )
    probe_lists = (
        ranked.filter(
            (F.col("rk") <= N_PROBE_LISTS_FILTERED) & (F.col("vec_id") < N_PROBES)
        ).select(F.col("vec_id").alias("probe_id"), "cent_id")
    )
    cand = (
        F.broadcast(probe_lists)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    pv = v.select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"))
    nv = v.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"))
    cosine = _dot(F.col("pe"), F.col("ne")) / (
        F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ne"), F.col("ne")))
    )
    scored = (
        cand.join(F.broadcast(pv), "probe_id")
        .join(nv, "neighbor_id")
        .select("probe_id", "neighbor_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# q221 — dominant principal direction of the embedding corpus via
# integer-exact power iteration.  The corpus-analytics question behind
# anisotropy / drift monitoring ("which way does the embedding cloud
# point, and how strongly?") answered without MLlib: build the 64x64
# Gram matrix A = X^T X from map-side outer products, then four
# unrolled power-iteration steps v <- normalize(A v).
#
# Determinism design: embeddings quantize once to integer MILLI-units
# (floor(x*1e3) — milli, not micro, so the outer products and the
# A·v folds stay far inside bigint at any corpus size: |A_jk| <=
# 1.6e7·n, and the iteration multiplies by <= 1e3 and folds 64 terms).
# Normalization divides by max|w| in integer arithmetic — Spark `div`
# and DuckDB `//` both truncate toward zero, verified — so every
# iterate is bit-identical across engines.  No sqrt, no float anywhere.
#
# Scale notes (100 TB): the outer products are generated INSIDE the row
# (nested transform over the array — pure codegen, one flat bigint
# array, no structs), so the only data-sized cost is the pos-keyed
# partial-aggregated Gram reduction: 4096 keys, map-side combine,
# output size dims^2 regardless of corpus size.  The iterations then
# LOOP AT RUNTIME inside a single aggregate() fold over an assembled
# one-row matrix — zero per-step stages, no broadcast ping-pong,
# driver-free (profiled at sf0.1: join-per-iteration cost ~0.9s of
# fixed stage overhead per step; a per-step .select() chain is worse —
# CollapseProject inlines each step's expressions into the next,
# tripling the tree per step until plan compilation hangs).
# Uncentered second moment by design (centering at 100 TB needs a mean
# pre-pass; the dominant direction of X^T X is the anisotropy axis
# drift monitors track — see q107 for the centered per-cluster
# displacement version).

PI_SCALE = 1000  # milli-unit quantization and iterate normalization
PI_ITERS = 6


def _q221_oracle() -> str:
    steps = []
    prev = "v0"
    for i in range(1, PI_ITERS + 1):
        steps.append(
            f"""w{i} AS (SELECT g.j, CAST(sum(g.a_jk * v.v) AS BIGINT) AS w
           FROM gram g JOIN {prev} v ON g.k = v.j GROUP BY 1)"""
        )
        if i < PI_ITERS:
            steps.append(
                f"""v{i} AS (SELECT j, w * {PI_SCALE}
               // (SELECT max(abs(w)) FROM w{i}) AS v FROM w{i})"""
            )
        prev = f"v{i}"
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH xq AS (
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {PI_SCALE})
                              AS BIGINT))) AS xq
      FROM embeddings
    ),
    gram AS (
      SELECT a.dim AS j, b.dim AS k,
             CAST(sum(a.xq * b.xq) AS BIGINT) AS a_jk
      FROM xq a JOIN xq b USING (vec_id)
      GROUP BY 1, 2
    ),
    v0 AS (SELECT DISTINCT j, CAST(1 AS BIGINT) AS v FROM gram),
    {unrolled},
    mf AS (SELECT max(abs(w)) AS m FROM w{PI_ITERS})
    SELECT CAST(j AS INT) AS dim,
           CAST(w * {PI_SCALE} // m AS BIGINT) AS v_milli,
           CAST(m AS BIGINT) AS norm_scale
    FROM w{PI_ITERS}, mf
    """


@register(
    "q221_embedding_power_iteration",
    oracle=_q221_oracle(),
    doc=f"dominant principal direction of the embedding corpus: "
        f"integer-exact power iteration ({PI_ITERS} steps) over a "
        "map-side-combined 64x64 Gram matrix; iteration state is "
        "dims^2, corpus-size-independent",
    tags=("similarity", "ml", "llm"),
)
def q221_embedding_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # scale_out: the flat 64x64 outer-product fan-out (N x 4096 rows)
    # runs inside the scan stage and the single-row-group embeddings
    # file cannot split — profiled 2.7s single-task at sf0.1.  No-op on
    # a multi-file scan at scale.
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    arr_q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * PI_SCALE).cast("bigint"),
    )
    # outer products as one FLAT bigint array per row (no structs —
    # posexplode position encodes (j,k) = (pos div 64, pos mod 64)):
    # measured 2.0s vs 3.3s for a struct-explode upper triangle at
    # sf0.1, because the symmetric halving costs per-element slice()
    # allocations that outweigh the saved volume
    flat = F.flatten(
        F.transform(arr_q, lambda xj: F.transform(arr_q, lambda xk: xj * xk))
    )
    gram = (
        emb.select(F.posexplode(flat).alias("pos", "p"))
        .groupBy("pos")
        .agg(F.sum("p").cast("bigint").alias("a_jk"))
    )
    # assemble the 64x64 matrix into ONE row (a single bounded 4096 -> 1
    # aggregation), then run every power step inside one projection
    mat = gram.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "a_jk"))),
            lambda s: s.a_jk,
        ).alias("flatA")
    ).select(
        F.expr(
            f"transform(sequence(0, {DIM - 1}), "
            f"j -> slice(flatA, j * {DIM} + 1, {DIM}))"
        ).alias("A")
    )
    # the iteration LOOPS AT RUNTIME inside one aggregate() fold — the
    # lambda is written once, so the expression tree is constant-size.
    # (A per-step .select() chain is a trap: CollapseProject inlines
    # each step's W into the next step's V, tripling the tree per step
    # — six steps hang plan compilation.)
    def av(v: str) -> str:
        return (
            f"transform(A, row -> aggregate(zip_with(row, {v}, "
            "(a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x))"
        )

    v0 = f"transform(sequence(0, {DIM - 1}), i -> cast(1 as bigint))"
    vfold = (
        f"aggregate(sequence(1, {PI_ITERS - 1}), {v0}, "
        f"(v, it) -> transform({av('v')}, x -> (x * {PI_SCALE}) div "
        f"array_max(transform({av('v')}, y -> abs(y)))))"
    )
    # the output structs are FINISHED inside one array expression BEFORE
    # the explode: referencing a chain-embedding scalar column after
    # posexplode re-evaluates that whole chain once per OUTPUT row (64x
    # — measured 9s of pure re-execution at sf0.1); built this way the
    # chain runs a constant number of times per INPUT row (one)
    outexpr = (
        f"transform({av('V')}, x -> struct("
        f"cast((x * {PI_SCALE}) div "
        f"array_max(transform({av('V')}, y -> abs(y))) as bigint) "
        "as v_milli, "
        f"cast(array_max(transform({av('V')}, y -> abs(y))) as bigint) "
        "as norm_scale))"
    )
    return (
        mat.select("A", F.expr(vfold).alias("V"))
        .select(F.posexplode(F.expr(outexpr)).alias("dim", "s"))
        .select(
            F.col("dim").cast("int").alias("dim"),
            "s.v_milli",
            "s.norm_scale",
        )
    )


# ---------------------------------------------------------------------------
# q230 — embedding isotropy audit: per-dimension mean/variance of the
# corpus embedding matrix plus each dimension's share of total
# variance. The curation signal: a handful of dimensions hoarding
# variance ("rogue dimensions", Timkey & van Schijndel 2021) makes
# cosine similarity degenerate — this is the table you read before
# trusting any ANN index built on the vectors (q32/q50/q175 here).
#
# Determinism scheme shared with q94/q101: quantize components to
# integer micro-units ONCE, accumulate (n, Σx, Σx²) as DECIMAL(38,0) —
# exact, order-free, map-side combinable — and run the final per-dim
# scalar math through one IEEE-double expression text in both engines,
# floor-quantized. Scale shape: one explode→groupBy(dim) over the
# per-dim fact (64·n rows, combinable to 64 partials per task), a
# 1-row total-variance rollup broadcast back onto 64 rows. Nothing is
# ever collected; the fact table never shuffles payload vectors.

_Q230_SCALAR = """
    CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
      AS mean_micros,
    CAST(floor((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000.0)
           AS BIGINT) AS var_micros,
    CAST(floor((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / tot_var_num * 1000000.0) AS BIGINT) AS var_share_micros
"""


@register(
    "q230_embedding_dim_stats",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
               AS xq
      FROM embeddings
    ),
    per_dim AS (
      SELECT dim,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(CAST(xq AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST(xq AS DECIMAL(18,0)) * CAST(xq AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS ss
      FROM xq GROUP BY dim
    ),
    tot AS (
      SELECT sum(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS tot_var_num
      FROM per_dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n_vectors,
           {_Q230_SCALAR}
    FROM per_dim CROSS JOIN tot
    """,
    doc="embedding isotropy audit: per-dimension mean/variance and "
    "variance share in exact DECIMAL sufficient statistics + one "
    "shared IEEE scalar expression; explode->combinable agg, 1-row "
    "total broadcast",
    tags=("similarity", "llm", "agg"),
)
def q230_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared substrate's (dim, xq) slice: KMEANS_SCALE is the same
    # 1e6 fixed point this audit always used
    xq = _xq_substrate(spark, sf_dir).select("dim", "xq")
    dec18, dec38 = "DECIMAL(18,0)", "DECIMAL(38,0)"
    per_dim = xq.groupBy("dim").agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum(F.col("xq").cast(dec18)).cast(dec38).alias("s"),
        F.sum(F.col("xq").cast(dec18) * F.col("xq").cast(dec18))
        .cast(dec38)
        .alias("ss"),
    )
    tot = per_dim.groupBy().agg(
        F.sum(
            F.expr(
                "CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
                " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            )
        ).alias("tot_var_num")
    )
    return (
        per_dim.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(dim AS BIGINT) AS dim",
            "CAST(n AS BIGINT) AS n_vectors",
            *[s.strip() for s in _Q230_SCALAR.split(",\n")],
        )
    )


# ---------------------------------------------------------------------------
# q231 — SemDeDup: SEMANTIC deduplication via embedding clustering
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"). MinHash/SimHash (q24/q25) catch
# LEXICAL near-dups; paraphrases and re-encodings of the same content
# share no shingles but land on near-identical embeddings. The pipeline:
# cluster every vector to its nearest coarse centroid (the paper's
# k-means step — here a single assignment pass over the K = ceil(√N)
# md5-ranked seed vectors of _semdedup_seed_frame, the same
# corpus-relative rule q235's learned variant refines with Lloyd
# rounds), compute pairwise cosine ONLY
# within a cluster (the paper's trick: k clusters cut the all-pairs
# O(N²) to O(N²/k) with no recall loss inside a cluster), connect pairs
# ≥ SEMDEDUP_COS into duplicate groups (transitive closure within the
# cluster), and KEEP the group member with the LOWEST cosine to
# its centroid (the paper keeps low-centroid-similarity examples: they
# sit nearest the cluster boundary and carry the most diversity).
#
# Scale shape:
# * Centroid assignment is a broadcast cross join (K·N cosines,
#   map-side) — the big table never shuffles for the assign.
# * The pairwise stage shuffles once on cent_id and runs each cluster
#   through one grouped Arrow kernel for pairs, closure and keep rule
#   (_semdedup_closure, q235's); K IS sized ceil(sqrt(N)) (r12 — the
#   r11 sf10 probe measured the old fixed-16 variant at 55-97× per
#   decade, the (N/K)² pair wall; with K ~ √N per-cluster pair work
#   grows linearly). Norms are computed ONCE per vector and ship with
#   it.
# * No edge crosses a cluster, so each group labels its own components
#   in memory, with no edge or label table written; the recursive-CTE
#   oracle checks the resulting components.
#
# Float determinism: cosines are div/mul/sqrt over the left-fold double
# dot (module docstring) — all correctly-rounded IEEE ops, bit-identical
# in DuckDB; the keep rule orders on (cent_cos ASC, vec_id ASC), total
# because vec_id is unique.

SEMDEDUP_COS = 0.40


def _semdedup_seed_frame(emb: DataFrame, n_rows: int) -> DataFrame:
    """K-means seed ids for the learned-centroid SemDeDup, with K wired
    to the corpus size: K = ceil(sqrt(N)) (the SemDeDup paper's shape —
    per-cluster pair work O(N²/K) balances against K·N assignment work
    at K ~ √N, bounding the dominant cluster's quadratic screen).  Seeds
    are the K vec_ids ranked by (md5(vec_id), vec_id): a deterministic
    pseudo-shuffle both engines reproduce exactly, evaluated as a
    distributed top-K (TakeOrderedAndProject — never a global sort).
    ``n_rows`` comes from the caller's one-row count of the source table
    (a convergence-gate-category bound fetch, not a data path)."""
    import math

    k = int(math.ceil(math.sqrt(float(n_rows)))) if n_rows else 1
    return (
        emb.select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string").cast("binary")).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(max(k, 1))
        .select("vec_id")
    )


def _coarse_semdedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cent_id, e, nrm, cent_cos): nearest coarse centroid per
    vector (argmax cosine, ties to lower cent_id) over the K = ceil(√N)
    md5-ranked seed vectors of ``_semdedup_seed_frame`` — the
    corpus-relative K that keeps per-cluster pair work ~linear in N
    (r12; the old fixed-16 seed set made the pair stage (N/16)²).
    Memoized per (session, sf_dir): q231, q246 and q260 share this K·N
    cosine scan."""

    def build() -> DataFrame:
        emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
        vn = emb.select("vec_id", _to_double("embedding").alias("e")).withColumn(
            "nrm", F.sqrt(_dot(F.col("e"), F.col("e")))
        )
        seeds = _semdedup_seed_frame(emb, emb.count())
        cents = F.broadcast(
            vn.join(seeds, "vec_id").select(
                F.col("vec_id").alias("cent_id"),
                F.col("e").alias("ce"),
                F.col("nrm").alias("cnrm"),
            )
        )
        cos_to_cent = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
        w_assign = Window.partitionBy("vec_id").orderBy(F.desc("cc"), F.asc("cent_id"))
        return (
            vn.crossJoin(cents)
            .select("vec_id", "e", "nrm", "cent_id", cos_to_cent.alias("cc"))
            .withColumn("rk", F.row_number().over(w_assign))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cent_id", "e", "nrm", F.col("cc").alias("cent_cos"))
        )

    return memo_substrate(spark, "semdedup_coarse_assign", sf_dir, build)


def _coarse_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, cos_sim): within-cluster cosine pairs (u < v, cosine >=
    SEMDEDUP_COS) over the coarse seed assignment — the dominant
    cost of the coarse SemDeDup family (the r11 sf10 probe measured the
    old fixed-16-seed variants of q231/q246 at 1511s + 1625s rebuilding
    this same pair list independently; r12 wires K = ceil(√N) so the
    per-cluster pair count stays bounded as the corpus grows).  The
    pairs come from ``_semdedup_edges``, whose screen the closure kernel
    (q231, q235) shares, with ``cent_id`` as the cluster.  Memoized per
    (session, sf_dir) so q246 and q260 pay the quadratic within-cluster
    scan once."""

    def build() -> DataFrame:
        assign = _coarse_semdedup_assign(spark, sf_dir)
        return _semdedup_edges(
            assign.withColumnRenamed("cent_id", "cluster"), SEMDEDUP_COS
        )

    return memo_substrate(spark, "semdedup_coarse_pairs", sf_dir, build)


# seeds: the K = ceil(sqrt(N)) vec_ids ranked by (md5(vec_id), vec_id) —
# the corpus-size-derived rule the Spark side computes in
# _semdedup_seed_frame; sqrt is a correctly-rounded IEEE op, so both
# engines derive an identical K from an identical N.  Shared by the
# q231/q246 coarse oracles and q235's learned oracle.
_DUCK_SEED_CTES = """
    kk AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS k
           FROM embeddings),
    sd AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS rk
        FROM embeddings) r, kk
      WHERE r.rk <= kk.k
    )"""


def _duck_semdedup_oracle() -> str:
    cc_expr = f"{_duck_dot('x.e', 'c.ce')} / (x.nrm * c.cnrm)"
    return f"""
    WITH RECURSIVE
    {_DUCK_SEED_CTES},
    v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    vn AS (SELECT vec_id, e, sqrt({_duck_dot('e', 'e')}) AS nrm FROM v),
    cents AS (
      SELECT vn.vec_id AS cent_id, e AS ce, nrm AS cnrm
      FROM vn JOIN sd USING (vec_id)
    ),
    ranked AS (
      SELECT x.vec_id, c.cent_id, x.e, x.nrm, {cc_expr} AS cc,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {cc_expr} DESC, c.cent_id) AS rk
      FROM vn x CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cent_id, e, nrm, cc AS cent_cos FROM ranked WHERE rk = 1
    ),
    e AS (
      SELECT a.vec_id AS u, b.vec_id AS v2
      FROM assign a JOIN assign b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE {_duck_dot('a.e', 'b.e')} / (a.nrm * b.nrm) >= {SEMDEDUP_COS}
    ),
    bidir AS (SELECT u, v2 FROM e UNION SELECT v2 AS u, u AS v2 FROM e),
    members AS (SELECT DISTINCT u AS id FROM bidir),
    reach(id, label) AS (
      SELECT id, id FROM members
      UNION
      SELECT b.u, r.label FROM bidir b JOIN reach r ON r.id = b.v2
    ),
    cc AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
    SELECT a.vec_id, a.cent_id, cc.component, a.cent_cos,
           row_number() OVER (PARTITION BY cc.component
                              ORDER BY a.cent_cos ASC, a.vec_id ASC) = 1
             AS keep
    FROM cc JOIN assign a ON a.vec_id = cc.id
    """


@register(
    "q231_semantic_dedup",
    oracle=_duck_semdedup_oracle(),
    doc="SemDeDup: within-centroid-cluster cosine groups (cluster-local "
    "closure), keep the lowest-centroid-similarity member per "
    "semantic-duplicate group",
    tags=("similarity", "dedup", "llm", "graph", "iterative"),
)
def q231_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the assignment is a MEMOIZED substrate (q246/q260's pairs read it
    # too).  No edge crosses a coarse cluster, so q235's closure kernel
    # runs pairs, components and keep rule per cent_id.  Negation is
    # exact, so the largest -cent_cos (ties to the lower vec_id) is the
    # keep rule's (cent_cos ASC, vec_id ASC) first row.
    assign = _coarse_semdedup_assign(spark, sf_dir)
    m = assign.select(
        "vec_id",
        F.col("cent_id").alias("cluster"),
        (-F.col("cent_cos")).alias("key"),
        "e",
        "nrm",
    )
    return (
        _semdedup_closure(m, SEMDEDUP_COS)
        .join(assign.select("vec_id", "cent_cos"), "vec_id")
        .select(
            "vec_id",
            F.col("cluster_id").alias("cent_id"),
            "component",
            "cent_cos",
            "keep",
        )
    )


# ---------------------------------------------------------------------------
# q235 — SemDeDup with LEARNED centroids: q231 upgraded from one-pass
# coarse seed assignment to the paper's actual k-means step (Abbas et al. 2023 run
# k-means over the embedding space, then dedup within each cluster).
# Composition of two already-oracle-checked pieces: q94's exact-integer
# Lloyd refinement (seeded by the K = ceil(sqrt(N)) md5-ranked sample
# vectors of _semdedup_seed_frame, run for Q235_ITERS rounds) feeds the
# cluster assignment, and q231's within-cluster closure (pair cosine ≥
# threshold → components → keep rule) runs over the LEARNED clusters.
#
# Determinism: the Lloyd rounds run operators/centroids.py's exact rule
# (squared distance to a mean centroid cs/n compared as the n²-scaled
# integer Σ_d (n·xq − cs_d)², ties toward the lower cluster id).  The
# keep rule orders on that same scaled distance DESC (farthest-from-centroid =
# the paper's low-centroid-similarity keep), which is scale-safe
# because edges never cross clusters, so every member of a component
# shares one cluster and therefore one n² factor — within a component
# the scaled order IS the true order.  Pair cosines reuse the left-fold
# double dot (module docstring).  No floats are emitted: the output is
# ids + booleans.
#
# Scale shape: the xq substrate is materialized once and feeds all
# Lloyd passes; centroid tables stay K·DIM rows (broadcast); as no edge
# crosses a cluster, one shuffle on the learned cluster id feeds one
# kernel for pairs, closure and keep rule (_semdedup_closure: no CC
# rounds).  K is WIRED to ~sqrt(N) (r10; _semdedup_seed_frame) so the
# dominant cluster's quadratic screen stays bounded as the corpus grows
# — the dial the r9 synthetic-sf1 sweep measured
# (bench_snapshots/README.md) is now the code path, not a note.

Q235_ITERS = 2  # Lloyd rounds, unrolled in the oracle

#: Candidate-screen slack for the BLAS pairwise dot.  The exact
#: predicate is fold(a·b)/(|a||b|) >= t where fold is the sequential
#: left-to-right sum; the screen uses a BLAS matmul whose summation
#: order differs.  Both are within k·eps of the true dot:
#: |fold − matmul| ≤ 2k·eps·Σ|a_i·b_i| ≤ 2·64·2.2e-16·|a||b|  (Cauchy-
#: Schwarz), i.e. the COSINE gap is ≤ ~3e-14.  A 1e-9 margin is 4.5
#: orders of magnitude wider, so no pair the exact fold would accept
#: can be screened out; everything inside the band is re-evaluated with
#: the exact fold, which is the predicate that decides.
_SEMDEDUP_SCREEN_SLACK = 1e-9


def _semdedup_screen(emb, nrm, threshold: float):
    """``(i, j, cos)``: the row pairs ``i < j`` of ONE cluster (``emb``
    its n×DIM block, ``nrm`` its norms) whose exact left-fold cosine is
    ``>= threshold`` — the one pair screen of both SemDeDup kernels
    (``_semdedup_edges``, ``_semdedup_closure``).

    BLAS computes all pairwise dots, and only the pairs inside the
    screen band (``_SEMDEDUP_SCREEN_SLACK``) re-run the exact
    sequential fold that defines the predicate — bit-identical to the
    JVM/DuckDB fold, which numpy ``cumsum`` reproduces (element
    products are single IEEE ops; cumsum accumulates strictly
    left-to-right).  Each kernel runs a cluster as one task, so the
    dominant cluster's O(n²) screen is single-task, ~50ms per
    1.6k×1.6k cluster; callers seed K ~ sqrt(N) clusters
    (``_semdedup_seed_frame``), but q235's Lloyd rounds can still grow
    one cluster to most of the corpus."""
    import numpy as np

    n = len(nrm)
    # Zero-norm embeddings make every pair cosine 0/0.  numpy would
    # quietly produce NaN and drop the pairs; fail loudly instead,
    # as the engine's ANSI divideByZeroError does for the same
    # cosine in Spark SQL.  A singleton cluster has no pairs.
    if n > 1 and (nrm == 0.0).any():
        raise ValueError(
            "zero-norm embedding in SemDeDup pair stage (cosine is "
            "0/0) — clean the corpus first"
        )
    lo = threshold - _SEMDEDUP_SCREEN_SLACK
    # row-block the screen: the full n×n cosine matrix (plus
    # triu index arrays) is O(n²·8B) — ~2 GB per 16k-row cluster,
    # which the sf1 sweep measured as allocator thrash.  A 512-row
    # block keeps peak memory at block×n doubles (~64 MB) with the
    # same dgemm throughput.
    blk = 512
    out = [(np.empty(0, np.intp),) * 2 + (nrm[:0],)]
    for s in range(0, n - 1, blk):
        e = min(s + blk, n)
        cos_fast = (emb[s:e] @ emb.T) / np.outer(nrm[s:e], nrm)
        bi, bj = np.nonzero(cos_fast >= lo)
        gi = bi + s
        upper = bj > gi  # strict upper triangle, global indices
        ci, cj = gi[upper], bj[upper]
        # exact left-to-right fold on the candidates only
        dots = np.cumsum(emb[ci] * emb[cj], axis=1)[:, -1]
        cos = dots / (nrm[ci] * nrm[cj])
        keep = cos >= threshold
        out.append((ci[keep], cj[keep], cos[keep]))
    return tuple(np.concatenate(col) for col in zip(*out))


def _semdedup_edges(m: DataFrame, threshold: float) -> DataFrame:
    """Within-cluster cosine edges (u < v, cos_sim >= ``threshold``), the
    coarse family's pair list (``_coarse_semdedup_pairs``): one grouped
    Arrow kernel over ``_semdedup_screen``.  ``m`` holds one row per
    vector, (vec_id, cluster, e: array<double>, nrm: double), so each
    cluster ships once (N rows, not N² pair rows).  ``cos_sim`` is the
    exact fold over ``nrm_u * nrm_v``, the value q260 cuts on."""
    import numpy as np
    import pandas as pd

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        i, j, cos = _semdedup_screen(
            np.vstack(pdf["e"]), pdf["nrm"].to_numpy("float64"), threshold
        )
        u, v = ids[i], ids[j]
        return pd.DataFrame({
            "u": np.minimum(u, v), "v": np.maximum(u, v), "cos_sim": cos,
        })

    return m.select("vec_id", "cluster", "e", "nrm").groupBy(
        "cluster"
    ).applyInPandas(pairs, "u long, v long, cos_sim double")


def _semdedup_closure(m: DataFrame, threshold: float) -> DataFrame:
    """``(vec_id, cluster_id, component, keep)`` per edge endpoint: the
    SemDeDup pairs, closure and keep rule (q231, q235) in one grouped
    kernel over ``m`` = (vec_id, cluster, key, e, nrm).  No edge crosses
    a cluster, so each group labels its own components: min-label
    propagation with pointer jumping, to its fixpoint, over
    vec_id-sorted rows, so a component's label is its least vec_id.
    ``keep`` marks the largest ``key``, ties to the lower vec_id; q235's
    key (its ``dist``) exceeds 2⁵³, so it stays a Decimal."""
    import numpy as np
    import pandas as pd

    def closure(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids, key = pdf["vec_id"].to_numpy(), pdf["key"].to_numpy()
        i, j, _ = _semdedup_screen(
            np.vstack(pdf["e"]), pdf["nrm"].to_numpy("float64"), threshold
        )
        label, prev = np.arange(len(ids)), None
        while not np.array_equal(label, prev):  # labels only ever decrease
            prev, label = label, label.copy()
            np.minimum.at(label, i, prev[j])
            np.minimum.at(label, j, prev[i])
            label = label[label]  # pointer jump
        rows = np.unique(np.concatenate([i, j]))  # ascending vec_id
        best: dict = {}
        for r in rows.tolist():  # strict ">": a tie stays with the lower id
            if label[r] not in best or key[r] > key[best[label[r]]]:
                best[label[r]] = r
        return pd.DataFrame({
            "vec_id": ids[rows],
            "cluster_id": pdf["cluster"].to_numpy()[rows],
            "component": ids[label[rows]],
            "keep": [best[label[r]] == r for r in rows.tolist()],
        })

    return m.select("vec_id", "cluster", "key", "e", "nrm").groupBy(
        "cluster"
    ).applyInPandas(closure, "vec_id long, cluster_id long, component long, keep boolean")


def _learned_assign(xq: DataFrame, seeds: DataFrame) -> DataFrame:
    """(vec_id, cluster, dist): q235's Q235_ITERS exact-integer Lloyd
    rounds over the xq substrate, seeded by the ``seeds`` vec_ids (they
    broadcast into the substrate, so seeding never shuffles the N·DIM
    rows).  tools/probe_q235_stages.py checks this against DuckDB."""
    cent = xq.join(F.broadcast(seeds), "vec_id").select(
        F.col("vec_id").alias("cluster"),
        "dim",
        F.col("xq").alias("cs"),
        F.lit(1).cast("bigint").alias("n"),
    )
    for it in range(Q235_ITERS - 1):
        # materialize the updated centroid table (K·DIM rows — tiny)
        # between Lloyd rounds: without this the next round's broadcast
        # re-executes the ENTIRE prior chain (xq join + assignment +
        # re-aggregation) inside its own plan, tripling the runtime
        cent = materialize(
            centroid_update(xq, nearest(sq_dists(xq, cent))), f"q235_cent_{it}"
        )
    return nearest(sq_dists(xq, cent))


def _duck_semdedup_learned_oracle() -> str:
    sqdiff = (
        "CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))"
        " * CAST(c.n * x.xq - c.cs AS DECIMAL(19,0))"
    )
    # seeds: _DUCK_SEED_CTES — the same K = ceil(sqrt(N)) md5-ranked
    # rule the Spark side computes in _semdedup_seed_frame.
    return f"""
    WITH RECURSIVE
    xq AS (
      SELECT vec_id,
             unnest(list_transform(range(0, len(embedding)),
                                   i -> CAST(i AS INT))) AS dim,
             unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE})
                              AS BIGINT))) AS xq
      FROM embeddings
    ),
    {_DUCK_SEED_CTES},
    c1 AS (SELECT x.vec_id AS cluster, x.dim, x.xq AS cs,
                  CAST(1 AS BIGINT) AS n
           FROM xq x JOIN sd USING (vec_id)),
    d1 AS (
      SELECT x.vec_id, c.cluster, sum({sqdiff}) AS dist
      FROM xq x JOIN c1 c USING (dim) GROUP BY 1, 2
    ),
    a1 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cluster) AS rn
             FROM d1) WHERE rn = 1),
    c2 AS (SELECT a.cluster, x.dim, CAST(sum(x.xq) AS BIGINT) AS cs,
                  count(*) AS n
           FROM xq x JOIN a1 a USING (vec_id) GROUP BY 1, 2),
    d2 AS (
      SELECT x.vec_id, c.cluster, sum({sqdiff}) AS dist
      FROM xq x JOIN c2 c USING (dim) GROUP BY 1, 2
    ),
    a2 AS (SELECT vec_id, cluster, dist FROM (
             SELECT vec_id, cluster, dist,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cluster) AS rn
             FROM d2) WHERE rn = 1),
    v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    vn AS (SELECT vec_id, e, sqrt({_duck_dot('e', 'e')}) AS nrm FROM v),
    m AS (SELECT a.vec_id, a.cluster, a.dist, x.e, x.nrm
          FROM a2 a JOIN vn x ON x.vec_id = a.vec_id),
    ed AS (
      SELECT a.vec_id AS u, b.vec_id AS v2
      FROM m a JOIN m b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_duck_dot('a.e', 'b.e')} / (a.nrm * b.nrm) >= {SEMDEDUP_COS}
    ),
    bidir AS (SELECT u, v2 FROM ed UNION SELECT v2 AS u, u AS v2 FROM ed),
    members AS (SELECT DISTINCT u AS id FROM bidir),
    reach(id, label) AS (
      SELECT id, id FROM members
      UNION
      SELECT b.u, r.label FROM bidir b JOIN reach r ON r.id = b.v2
    ),
    cc AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
    SELECT a.vec_id, a.cluster AS cluster_id, cc.component,
           row_number() OVER (PARTITION BY cc.component
                              ORDER BY a.dist DESC, a.vec_id ASC) = 1
             AS keep
    FROM cc JOIN a2 a ON a.vec_id = cc.id
    """


@register(
    "q235_semantic_dedup_learned",
    oracle=_duck_semdedup_learned_oracle(),
    doc="SemDeDup over LEARNED k-means clusters: exact-integer Lloyd "
    "rounds (q94 convention) produce the centroids, then within-cluster "
    "cosine closure with a farthest-from-centroid keep rule",
    tags=("similarity", "dedup", "llm", "graph", "iterative"),
)
def q235_semantic_dedup_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    # shared quantized substrate (one session-wide build feeds all Lloyd
    # passes here and the four sibling pipelines — see _xq_substrate)
    xq = _xq_substrate(spark, sf_dir)
    # K ~ sqrt(N) seed rule (see _semdedup_seed_frame): the count is a
    # one-row bound fetch on the source scan
    learned = _learned_assign(xq, _semdedup_seed_frame(emb, emb.count()))
    vn = emb.select("vec_id", _to_double("embedding").alias("e")).withColumn(
        "nrm", F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    m = learned.withColumnRenamed("dist", "key").join(vn, "vec_id")
    return _semdedup_closure(m, SEMDEDUP_COS)


# ---------------------------------------------------------------------------
# q246 — paraphrase-candidate mining: pairs that are SEMANTIC near-dups
# (embedding cosine within a coarse cluster, q231's candidate
# generation) but NOT LEXICAL near-dups (word-trigram Jaccard at or
# below a ceiling).  This intersection is the classic contrastive /
# paraphrase-pair miner: SemDeDup-style pipelines DROP these pairs'
# members as semantic duplicates, while an augmentation pipeline KEEPS
# them as free positive pairs — either way the pair list itself is the
# operational artifact (cf. the paraphrase-mining stage of sentence-
# embedding training sets; the dedup-vs-keep tension is Abbas et al.
# 2023 §5's "semantic duplicates are often paraphrases").
#
# Scale shape:
# * Semantic candidates come from the bucketed within-cluster join
#   (centroids broadcast, one exchange on cent_id) — never all-pairs.
# * The lexical check runs ONLY on the candidate pairs: two hash joins
#   against the hashed-shingle substrate keyed by doc id, one count
#   aggregate keyed by the pair — all output-sized, corpus never
#   re-shuffles.
# * Jaccard stays exact-integer: jac <= 1/5 tested as the cross-
#   multiplied 6*shared <= n_a + n_b (union = n_a + n_b - shared).
#
# vec_id <-> doc_id alignment: the embeddings table is row-aligned with
# documents (vec i embeds doc i; both are the 0..N-1 driver domain).

PARA_MAX_JACCARD_NUM, PARA_MAX_JACCARD_DEN = 1, 5  # lexical ceiling 1/5


def _q246_oracle() -> str:
    from .dedup_queries import _DUCK_HASHED_SHINGLES

    cc_expr = f"{_duck_dot('x.e', 'c.ce')} / (x.nrm * c.cnrm)"
    pair_cos = f"{_duck_dot('a.e', 'b.e')} / (a.nrm * b.nrm)"
    return f"""
    WITH {_DUCK_HASHED_SHINGLES},
    {_DUCK_SEED_CTES},
    ve AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    vn AS (SELECT vec_id, e, sqrt({_duck_dot('e', 'e')}) AS nrm FROM ve),
    cents AS (
      SELECT vn.vec_id AS cent_id, e AS ce, nrm AS cnrm
      FROM vn JOIN sd USING (vec_id)
    ),
    ranked AS (
      SELECT x.vec_id, c.cent_id, x.e, x.nrm,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {cc_expr} DESC, c.cent_id) AS rk
      FROM vn x CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, cent_id, e, nrm FROM ranked WHERE rk = 1),
    sem AS (
      SELECT a.vec_id AS u, b.vec_id AS w, {pair_cos} AS cos_sim
      FROM assign a JOIN assign b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE {pair_cos} >= {SEMDEDUP_COS}
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT s.u, s.w, CAST(count(*) AS BIGINT) AS shared
      FROM sem s
      JOIN sh sa ON sa.doc_id = s.u
      JOIN sh sb ON sb.doc_id = s.w AND sb.sh = sa.sh
      GROUP BY s.u, s.w
    )
    SELECT s.u AS doc_a, s.w AS doc_b, s.cos_sim,
           coalesce(h.shared, 0) AS shared_shingles,
           coalesce(za.n, 0) AS n_a, coalesce(zb.n, 0) AS n_b,
           CASE WHEN coalesce(za.n, 0) + coalesce(zb.n, 0) > 0
                THEN ({PARA_MAX_JACCARD_NUM + PARA_MAX_JACCARD_DEN}
                        * coalesce(h.shared, 0)
                      <= coalesce(za.n, 0) + coalesce(zb.n, 0))
           END AS is_paraphrase
    FROM sem s
    LEFT JOIN shared h ON h.u = s.u AND h.w = s.w
    LEFT JOIN sizes za ON za.doc_id = s.u
    LEFT JOIN sizes zb ON zb.doc_id = s.w
    """


@register(
    "q246_paraphrase_candidates",
    oracle=_q246_oracle(),
    doc="paraphrase-pair miner: semantic near-dup candidates (bucketed "
    "within-centroid cosine) minus lexical near-dups (trigram Jaccard "
    "<= 1/5, exact cross-multiplied); lexical check is output-sized",
    tags=("similarity", "llm", "dedup", "text"),
)
def q246_paraphrase_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_queries import _hashed_shingles

    # semantic candidates come from the MEMOIZED coarse-seed pair
    # substrate shared with q260 (r11; K = ceil(sqrt(N)) since
    # r12) — one scratch-parquet scan (the r11 sf10 probe measured q231
    # and this query independently rebuilding this list at 1511s + 1625s)
    sem = _coarse_semdedup_pairs(spark, sf_dir).select(
        "u", F.col("v").alias("w"), "cos_sim"
    )
    # the shingle substrate is probed FOUR times (both sides of the
    # shared-count join, both size lookups); _hashed_shingles is
    # session-memoized to scratch parquet (r11), so all four probes
    # are flat scans of the same files — no per-query re-materialize
    sh = _hashed_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        sem.select("u", "w")
        .join(sh.select(F.col("doc_id").alias("u"), "sh"), "u")
        .join(sh.select(F.col("doc_id").alias("w"), "sh"), ["w", "sh"])
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    za = F.broadcast(sizes.select(F.col("doc_id").alias("u"), F.col("n").alias("n_a")))
    zb = F.broadcast(sizes.select(F.col("doc_id").alias("w"), F.col("n").alias("n_b")))
    mul = PARA_MAX_JACCARD_NUM + PARA_MAX_JACCARD_DEN
    return (
        sem.join(F.broadcast(shared), ["u", "w"], "left")
        .join(za, "u", "left")
        .join(zb, "w", "left")
        .select(
            F.col("u").alias("doc_a"),
            F.col("w").alias("doc_b"),
            "cos_sim",
            F.coalesce(F.col("shared"), F.lit(0)).cast("bigint").alias("shared_shingles"),
            F.coalesce(F.col("n_a"), F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("bigint").alias("n_b"),
            # a pair where BOTH docs have < 3 tokens has no shingles at
            # all (n_a = n_b = shared = 0): the Jaccard test 6*0 <= 0
            # would hold VACUOUSLY, labeling lexically empty pairs as
            # paraphrases — emit NULL instead (mirrored in the oracle)
            F.when(
                F.coalesce(F.col("n_a"), F.lit(0))
                + F.coalesce(F.col("n_b"), F.lit(0))
                > 0,
                mul * F.coalesce(F.col("shared"), F.lit(0))
                <= F.coalesce(F.col("n_a"), F.lit(0))
                + F.coalesce(F.col("n_b"), F.lit(0)),
            ).alias("is_paraphrase"),
        )
    )


# ---------------------------------------------------------------------------
# q258 — matryoshka-prefix recall audit (Kusupati et al. 2022,
# "Matryoshka Representation Learning"): MRL-trained embeddings pack
# coarse-to-fine information into nested prefixes, so ANN serving can
# rank with the first L dims at 64/L the bandwidth and re-rank with the
# full vector.  Before a pipeline commits to a prefix length it measures
# exactly this table: for each candidate prefix L, the overlap between
# the top-K by truncated cosine and the top-K by full cosine, per probe,
# aggregated to recall ppm.  (On non-MRL embeddings — this fixture —
# the curve is the honest baseline showing how much a naive truncation
# loses; the AUDIT is the operator, the embedding quality is the input.)
#
# Scale shape: q31's brute-force contract — probes broadcast (bounded by
# MAX_BRUTE_PROBES), corpus scanned once with 4 prefix scores per
# (probe, vec) row, top-K per (prefix, probe) group via row_number.
# All-integer output (hits, ppm); cosine floats never leave the plan.
#
# Float parity: truncated cosines are the SAME sequential left-fold over
# list prefixes in both engines (F.slice / list_slice preserve prefix
# order; partial sums of an identical fold), with ties broken by
# neighbor_id — the q31 convention.

MATRYOSHKA_PREFIXES = (8, 16, 32, 64)  # full DIM last: the recall target


def _q258_oracle() -> str:
    pls = ", ".join(str(p) for p in MATRYOSHKA_PREFIXES)

    def dcos(a: str, b: str) -> str:
        sa = f"list_slice({a}, 1, prefix_len)"
        sb = f"list_slice({b}, 1, prefix_len)"
        return (
            f"list_inner_product({sa}, {sb}) / "
            f"(sqrt(list_inner_product({sa}, {sa})) * "
            f"sqrt(list_inner_product({sb}, {sb})))"
        )

    return f"""
    WITH v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    pl AS (SELECT unnest([{pls}]) AS prefix_len),
    ranked AS (
      SELECT prefix_len, probe_id, neighbor_id FROM (
        SELECT pr.prefix_len, p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY pr.prefix_len, p.vec_id
                 ORDER BY {dcos('p.e', 'c.e')} DESC, c.vec_id) AS rk
        FROM v p JOIN v c ON p.vec_id < {N_PROBES} AND c.vec_id <> p.vec_id
        CROSS JOIN pl pr
      ) WHERE rk <= {TOP_K}
    ),
    full_k AS (SELECT probe_id, neighbor_id FROM ranked
               WHERE prefix_len = {DIM}),
    hits AS (
      SELECT r.prefix_len, CAST(count(*) AS BIGINT) AS n_hits
      FROM ranked r JOIN full_k f USING (probe_id, neighbor_id)
      GROUP BY 1
    )
    SELECT CAST(prefix_len AS BIGINT) AS prefix_len,
           n_hits,
           CAST({N_PROBES} AS BIGINT) AS n_probes,
           CAST(n_hits * 1000000 // {TOP_K * N_PROBES} AS BIGINT)
             AS recall_ppm
    FROM hits
    """


@register(
    "q258_matryoshka_recall",
    oracle=_q258_oracle(),
    doc="matryoshka-prefix recall audit: top-K overlap between truncated-"
    "prefix cosine (L in 8/16/32/64) and full-vector cosine per probe, "
    "aggregated to integer recall ppm — the serve-at-L/4-bandwidth dial "
    "table; brute-force per q31's broadcast-probe contract",
    tags=("similarity", "llm"),
)
def q258_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    if N_PROBES > MAX_BRUTE_PROBES:
        raise ValueError(
            f"brute-force recall audit is capped at {MAX_BRUTE_PROBES} "
            f"probes (got {N_PROBES}); sample the probe set down"
        )
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    probes = F.broadcast(
        v.filter(F.col("vec_id") < N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"))
    )
    pairs = probes.join(v, F.col("vec_id") != F.col("probe_id")).withColumn(
        "prefix_len",
        F.explode(F.array(*[F.lit(p) for p in MATRYOSHKA_PREFIXES])),
    )
    sp = F.slice(F.col("pe"), F.lit(1), F.col("prefix_len"))
    sc = F.slice(F.col("e"), F.lit(1), F.col("prefix_len"))
    cosine = _dot(sp, sc) / (F.sqrt(_dot(sp, sp)) * F.sqrt(_dot(sc, sc)))
    w = Window.partitionBy("prefix_len", "probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    # the ranked lists are tiny (|prefixes|·P·K rows) but feed TWO
    # consumers (the full-dim reference and the per-prefix join side):
    # materialize so the O(P·N·|prefixes|) scoring scan runs once
    ranked = materialize(
        pairs.select(
            "prefix_len",
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine.alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("prefix_len", "probe_id", "neighbor_id"),
        "q258_ranked",
    )
    full_k = ranked.filter(F.col("prefix_len") == DIM).select(
        "probe_id", "neighbor_id"
    )
    return (
        ranked.join(full_k, ["probe_id", "neighbor_id"])
        .groupBy("prefix_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .select(
            F.col("prefix_len").cast("bigint").alias("prefix_len"),
            "n_hits",
            F.lit(N_PROBES).cast("bigint").alias("n_probes"),
            F.expr(f"n_hits * 1000000 div {TOP_K * N_PROBES}")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q260 — SemDeDup threshold sensitivity sweep: q259's dial table in
# EMBEDDING space.  Before committing to a semantic-dup cosine cut the
# pipeline measures what each candidate threshold would do — pairs
# passing, and documents the drop-larger rule would flag — across the
# dial in ONE output-sized pass over the memoized coarse pair substrate
# (the Abbas et al. 2023 ablations publish exactly this curve as the
# dedup-rate-vs-epsilon table).
#
# The substrate only materializes pairs at cosine >= SEMDEDUP_COS, so
# the dial starts there and tightens.  Thresholds are micro-units whose
# double image t/10^6 is the SAME correctly-rounded IEEE value in both
# engines, compared against the SAME left-fold cosine — bit-identical
# verdicts even for pairs sitting on a cut.
#
# Scale shape: pure consumer of _coarse_semdedup_pairs (built once per
# session by the _semdedup_edges kernel); the sweep is |pairs| x |dial|
# rows exploded map-side, one (threshold, doc) distinct + tiny-key agg.

SEMDEDUP_SWEEP_MICROS = (400_000, 500_000, 600_000, 700_000, 800_000, 900_000)


def _q260_oracle() -> str:
    ts = ", ".join(str(t) for t in SEMDEDUP_SWEEP_MICROS)
    pair_cos = f"{_duck_dot('a.e', 'b.e')} / (a.nrm * b.nrm)"
    cc_expr = f"{_duck_dot('x.e', 'c.ce')} / (x.nrm * c.cnrm)"
    return f"""
    WITH {_DUCK_SEED_CTES},
    v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    vn AS (SELECT vec_id, e, sqrt({_duck_dot('e', 'e')}) AS nrm FROM v),
    cents AS (
      SELECT vn.vec_id AS cent_id, e AS ce, nrm AS cnrm
      FROM vn JOIN sd USING (vec_id)
    ),
    ranked AS (
      SELECT x.vec_id, c.cent_id, x.e, x.nrm,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {cc_expr} DESC, c.cent_id) AS rk
      FROM vn x CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, cent_id, e, nrm FROM ranked WHERE rk = 1),
    pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS w, {pair_cos} AS cos_sim
      FROM assign a JOIN assign b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE {pair_cos} >= {SEMDEDUP_COS}
    ),
    passing AS (
      SELECT t.t_micro, p.u, p.w
      FROM pairs p CROSS JOIN (SELECT unnest([{ts}]) AS t_micro) t
      WHERE p.cos_sim >= CAST(t.t_micro AS DOUBLE) / 1000000
    )
    SELECT CAST(t_micro AS BIGINT) AS threshold_micro,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT w) AS BIGINT) AS n_docs_flagged
    FROM passing
    GROUP BY 1
    """


@register(
    "q260_semdedup_threshold_sweep",
    oracle=_q260_oracle(),
    doc="SemDeDup threshold sensitivity: pairs passing and docs flagged "
    "(drop-larger rule) per candidate cosine cut, one output-sized pass "
    "over the memoized coarse pair substrate — the dedup-rate-vs-"
    "epsilon dial table",
    tags=("similarity", "dedup", "llm"),
)
def q260_semdedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _coarse_semdedup_pairs(spark, sf_dir)
    passing = pairs.withColumn(
        "threshold_micro",
        F.explode(F.array(*[F.lit(t) for t in SEMDEDUP_SWEEP_MICROS])),
    ).filter(
        F.col("cos_sim")
        >= F.col("threshold_micro").cast("double") / F.lit(1_000_000.0)
    )
    return passing.groupBy("threshold_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("v").cast("bigint").alias("n_docs_flagged"),
    ).select(
        F.col("threshold_micro").cast("bigint").alias("threshold_micro"),
        "n_pairs",
        "n_docs_flagged",
    )


# ---------------------------------------------------------------------------
# q278 — IVF incremental-add maintenance report (r12): the operational
# counterpart of q211's index persistence and q63's incremental LSH.
# Production IVF serving adds new vectors by assigning them to the
# EXISTING centroids (no retrain) and appending to the inverted lists;
# the thing the operator watches is per-list growth — skewed growth
# means the trained centroids no longer describe the incoming
# distribution and a retrain is due.  Here the delta batch is the
# vec_id % 5 == 0 slice (centroid seed vectors excluded so the trained
# index never loses its own seeds); both batches assign with the same
# broadcast centroids in one pass, and the report is per-centroid
# (n_base, n_added, growth_ppm, retrain flag at >25% growth) in exact
# integer arithmetic.  Scale notes: identical shape to q50's assignment
# (K-row broadcast crossJoin + one keyed aggregation, no data-sized
# shuffle beyond the vec partition scan); the report is K rows.

IVF_DELTA_MOD = 5
IVF_RETRAIN_PPM = 250_000


def _duck_ivf_growth_oracle() -> str:
    cos = (
        f"{_duck_dot('x.e', 'c.ce')} / "
        f"(sqrt({_duck_dot('x.e', 'x.e')}) * sqrt({_duck_dot('c.ce', 'c.ce')}))"
    )
    cent_list = ", ".join(str(i) for i in CENT_IDS)
    return f"""
    WITH v AS (SELECT vec_id, {_duck_vec('embedding')} AS e FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id IN ({cent_list})),
    ranked AS (
      SELECT x.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {cos} DESC, c.cent_id) AS rk
      FROM v x CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cent_id,
             vec_id % {IVF_DELTA_MOD} = 0 AND vec_id NOT IN ({cent_list})
               AS is_delta
      FROM ranked WHERE rk = 1
    )
    SELECT cent_id,
           CAST(count(*) FILTER (NOT is_delta) AS BIGINT) AS n_base,
           CAST(count(*) FILTER (is_delta) AS BIGINT) AS n_added,
           CAST(count(*) FILTER (is_delta) * 1000000
                // count(*) FILTER (NOT is_delta) AS BIGINT) AS growth_ppm,
           count(*) FILTER (is_delta) * 1000000
             // count(*) FILTER (NOT is_delta) > {IVF_RETRAIN_PPM}
             AS retrain
    FROM assign GROUP BY cent_id
    """


@register(
    "q278_ivf_incremental_add",
    oracle=_duck_ivf_growth_oracle(),
    doc="IVF incremental-add maintenance report: delta batch assigned to "
    "the EXISTING centroids (no retrain), per-list base/added counts and "
    "integer growth_ppm with a >25% retrain flag — the list-growth dial "
    "a serving system watches between index rebuilds",
    tags=("similarity", "llm"),
)
def q278_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scale_out(load_tables(spark, sf_dir, ["embeddings"])["embeddings"])
    v = emb.select("vec_id", _to_double("embedding").alias("e"))
    cents = F.broadcast(
        v.filter(F.col("vec_id").isin(CENT_IDS)).select(
            F.col("vec_id").alias("cent_id"), F.col("e").alias("ce")
        )
    )
    cos_to_cent = _dot(F.col("e"), F.col("ce")) / (
        F.sqrt(_dot(F.col("e"), F.col("e")))
        * F.sqrt(_dot(F.col("ce"), F.col("ce")))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cc"), F.asc("cent_id")
    )
    assign = (
        v.crossJoin(cents)
        .select("vec_id", "cent_id", cos_to_cent.alias("cc"))
        .withColumn("rk", F.row_number().over(w_assign))
        .filter(F.col("rk") == 1)
        .withColumn(
            "is_delta",
            (F.col("vec_id") % IVF_DELTA_MOD == 0)
            & ~F.col("vec_id").isin(CENT_IDS),
        )
    )
    n_base = F.sum(F.when(~F.col("is_delta"), 1).otherwise(0)).cast("long")
    n_added = F.sum(F.when(F.col("is_delta"), 1).otherwise(0)).cast("long")
    return (
        assign.groupBy("cent_id")
        .agg(n_base.alias("n_base"), n_added.alias("n_added"))
        .select(
            "cent_id",
            "n_base",
            "n_added",
            F.expr("n_added * 1000000 div n_base").alias("growth_ppm"),
            (F.expr("n_added * 1000000 div n_base") > IVF_RETRAIN_PPM).alias(
                "retrain"
            ),
        )
    )
