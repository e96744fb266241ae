"""L4 — deterministic sketch operators (builder brief: "a novel sketch"
as a custom-operator category).

* q85 — KMV (k-minimum-values) distinct-count sketch per group: keep the
  K smallest 60-bit hashes of the distinct members and estimate
  cardinality as ``(K-1) * 2^60 / h_K``. Unlike HLL++
  (``approx_count_distinct``), KMV over a fixed hash is bit-identical
  across engines, so the estimate itself passes the DuckDB hash gate.

Scale notes (100 TB):
* Production Spark would normally reach for ``approx_count_distinct``
  (HLL++: bounded sketch buffers, map-side partial aggregation). q85
  exists because the oracle gate needs engine-independent estimates —
  and its plan is still skew-proof: the min-k selection runs TWO level
  windows, first per (group, salt) shard, then over the ≤ SALTS*K
  survivors per group. No window partition ever exceeds
  max(shard_distinct, SALTS*K) rows, regardless of how hot a group key
  is. The DuckDB oracle computes the single-level global min-k, which
  the two-level form equals exactly.
* The distinct() before hashing is the one full shuffle, keyed by
  (group, member) — the same shape COUNT(DISTINCT) needs anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .dedup_queries import _duck_md5_int, _md5_int
from .registry import register

KMV_K = 64       # sketch size: k smallest hashes kept per group
KMV_SALTS = 8    # level-1 shards per group (skew bound: SALTS*K rows max)
_POW2_60 = float(1 << 60)  # md5-15-hex hash space


@register(
    "q85_kmv_distinct",
    oracle=f"""
    WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type, user_id,
             {_duck_md5_int("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
      FROM pairs
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
      FROM h
    ),
    k AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k
      FROM r WHERE rn <= {KMV_K} GROUP BY event_type
    )
    SELECT event_type, n_kept,
           CAST(CASE WHEN n_kept < {KMV_K} THEN n_kept
                     ELSE floor(({KMV_K} - 1) * {_POW2_60} / h_k) END
                AS BIGINT) AS est_distinct_users
    FROM k
    """,
    doc=f"KMV distinct-user sketch per event_type (k={KMV_K}): "
        "engine-deterministic cardinality estimate; two-level min-k keeps "
        "every window partition bounded",
    tags=("sketch", "agg", "llm"),
)
def q85_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, ["events"])["events"]
    pairs = events.select("event_type", "user_id").distinct()
    h = _md5_int(F.concat_ws("", F.lit("kmv:"), F.col("user_id").cast("string")))
    hashed = pairs.select("event_type", "user_id", h.alias("h"))

    # level 1: k smallest per (group, salt) shard — partitions are
    # shard-sized even for a group holding every user in the corpus
    lvl1 = Window.partitionBy("event_type", F.col("h") % KMV_SALTS).orderBy(
        "h", "user_id"
    )
    survivors = (
        hashed.withColumn("_rn", F.row_number().over(lvl1))
        .filter(F.col("_rn") <= KMV_K)
        .drop("_rn")
    )
    # level 2: global k smallest among ≤ SALTS*K survivors per group —
    # exactly equal to the single-level min-k the oracle computes
    lvl2 = Window.partitionBy("event_type").orderBy("h", "user_id")
    kept = (
        survivors.withColumn("_rn", F.row_number().over(lvl2))
        .filter(F.col("_rn") <= KMV_K)
    )
    agg = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k")
    )
    est = F.when(F.col("n_kept") < KMV_K, F.col("n_kept")).otherwise(
        F.floor(F.lit(float(KMV_K - 1)) * F.lit(_POW2_60) / F.col("h_k"))
    )
    return agg.select(
        "event_type", "n_kept", est.cast("bigint").alias("est_distinct_users")
    )


# ---------------------------------------------------------------------------
# q156 — KMV set algebra for join-size estimation: the planner question
# "how many customer keys actually appear in orders?" answered from two
# mergeable sketches WITHOUT scanning either table again. Sketch merge =
# min-k of the union of the two k-sets (the defining KMV property);
# Jaccard ≈ |merged-k ∩ A-k ∩ B-k| / k; intersection ≈ J · |A∪B|-est.
# Everything downstream of the two per-side sketches touches ≤ 2k rows
# — the point: at 100 TB the sketches are bytes, the estimate is free,
# and re-estimation after a filter only rebuilds one side. Same fixed
# md5 hash as q85 so the whole pipeline is engine-deterministic; exact
# counts ride along in the same row as the built-in quality check.
# Each side's min-k uses q85's two-level salt shape; the merge windows
# run over ≤ 2k rows (documented bounded-domain single partitions).


def _kmv_minmerge(df, key_col: str, k: int):
    """k smallest 'kmv:'-salted hashes of df[key_col] — two-level."""
    h = _md5_int(F.concat_ws("", F.lit("kmv:"), F.col("key").cast("string")))
    hashed = df.select(F.col(key_col).alias("key")).distinct().select(
        "key", h.alias("h")
    )
    lvl1 = Window.partitionBy(F.col("h") % KMV_SALTS).orderBy("h", "key")
    surv = (
        hashed.withColumn("_rn", F.row_number().over(lvl1))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    lvl2 = Window.partitionBy(F.lit(1)).orderBy("h", "key")  # ≤ SALTS*k rows
    return (
        surv.withColumn("_rn", F.row_number().over(lvl2))
        .filter(F.col("_rn") <= k)
        .select("h")
    )


def _duck_kmv(table: str, key: str, k: int) -> str:
    return f"""(
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h, key) AS rn FROM (
          SELECT DISTINCT {key} AS key,
                 {_duck_md5_int(f"'kmv:' || CAST({key} AS VARCHAR)")} AS h
          FROM {table})
      ) WHERE rn <= {k})"""


@register(
    "q156_kmv_join_estimate",
    oracle=f"""
    WITH ka AS {_duck_kmv('orders', 'o_custkey', KMV_K)},
    kb AS {_duck_kmv('customer', 'c_custkey', KMV_K)},
    merged AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb))
      ) WHERE rn <= {KMV_K}
    ),
    mk AS (SELECT count(*) AS n_kept, max(h) AS h_k FROM merged),
    ki AS (
      SELECT count(*) AS n_int FROM merged m
      WHERE EXISTS (SELECT 1 FROM ka WHERE ka.h = m.h)
        AND EXISTS (SELECT 1 FROM kb WHERE kb.h = m.h)
    ),
    ex AS (
      SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_a,
             (SELECT count(*) FROM customer) AS exact_b,
             (SELECT count(DISTINCT o_custkey) FROM orders o
              WHERE EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS exact_inter
    )
    SELECT CAST(ex.exact_a AS BIGINT) AS exact_a,
           CAST(ex.exact_b AS BIGINT) AS exact_b,
           CAST(ex.exact_inter AS BIGINT) AS exact_inter,
           CAST(ki.n_int AS BIGINT) AS k_int,
           CAST(CASE WHEN mk.n_kept < {KMV_K} THEN mk.n_kept
                     ELSE floor(({KMV_K} - 1) * {_POW2_60} / mk.h_k) END
                AS BIGINT) AS est_union,
           CAST(floor(CAST(ki.n_int AS DOUBLE) *
                 (CASE WHEN mk.n_kept < {KMV_K} THEN mk.n_kept
                       ELSE floor(({KMV_K} - 1) * {_POW2_60} / mk.h_k) END)
                 / mk.n_kept) AS BIGINT) AS est_inter
    FROM ex CROSS JOIN mk CROSS JOIN ki
    """,
    doc="KMV sketch set-algebra join-size estimate: merged min-k union "
    "estimator + k-overlap Jaccard -> intersection; sketch-only after "
    "the two per-side passes, exact counts ride along as quality check",
    tags=("sketch", "llm", "J1"),
)
def q156_kmv_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import materialize

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    # the two per-side sketch builds are independent full passes over
    # different tables: overlap them (guide §2.6) — the distinct names
    # keep the two materialize() scratch paths disjoint, and
    # scratch_root() is lock-guarded against concurrent first calls
    from ..concurrency import run_concurrently

    ka, kb = run_concurrently(
        lambda: materialize(
            _kmv_minmerge(t["orders"], "o_custkey", KMV_K), "q156_kmv_a"
        ),
        lambda: materialize(
            _kmv_minmerge(t["customer"], "c_custkey", KMV_K), "q156_kmv_b"
        ),
    )

    w = Window.partitionBy(F.lit(1)).orderBy("h")  # ≤ 2k rows
    merged = materialize(
        ka.unionByName(kb).distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= KMV_K)
        .select("h"),
        "q156_kmv_merged",
    )
    mk = merged.agg(F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k"))
    ki = (
        merged.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    exact_a = t["orders"].agg(
        F.countDistinct("o_custkey").alias("exact_a")
    )
    exact_b = t["customer"].agg(F.count(F.lit(1)).alias("exact_b"))
    exact_i = (
        t["orders"].select("o_custkey").distinct()
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est_union = F.when(F.col("n_kept") < KMV_K, F.col("n_kept")).otherwise(
        F.floor(F.lit(float(KMV_K - 1)) * F.lit(_POW2_60) / F.col("h_k"))
    )
    return (
        exact_a.join(exact_b).join(exact_i).join(F.broadcast(mk)).join(F.broadcast(ki))
        .select(
            F.col("exact_a").cast("bigint"),
            F.col("exact_b").cast("bigint"),
            F.col("exact_inter").cast("bigint"),
            F.col("n_int").cast("bigint").alias("k_int"),
            est_union.cast("bigint").alias("est_union"),
            F.floor(
                F.col("n_int").cast("double") * est_union / F.col("n_kept")
            ).cast("bigint").alias("est_inter"),
        )
    )


# ---------------------------------------------------------------------------
# q218 — HyperLogLog distinct-count sketch per group, engine-exact.
# This is the sketch production Spark already ships as
# ``approx_count_distinct`` (HLL++) — q218 re-derives classic HLL from
# first principles over a FIXED md5 hash so the registers and the raw
# estimate are bit-identical across engines and pass the DuckDB hash
# gate (the same reason q85 exists for KMV).  Flajolet et al. 2007:
# register j = low 6 hash bits, rho = leading-zero count + 1 of the
# remaining 54 bits, M[j] = max rho, raw estimate
# alpha_m * m^2 / sum_j 2^-M[j].
#
# Determinism engineering: 2^-M[j] is summed as the EXACT integer
# 2^(30-M[j]) (shiftright of a power of two — identical floor semantics
# in both engines; registers beyond 30 leading zeros truncate to 0
# identically), alpha enters as an integer ppm constant, and the final
# estimate is pure bigint division — no float ever touches the data
# path.  The bias/linear-counting corrections of HLL++ are a
# presentation-layer concern (they need ln(), which is libm-dependent);
# v_zero rides along so a consumer CAN apply linear counting.
#
# Scale notes (100 TB): the register table is the whole state — at most
# m=64 rows per group after the partial max, and groupBy(group, j).max
# combines map-side, so each executor emits ≤ 64 rows per group per
# partition regardless of input size.  Register max IS the HLL merge
# operator, so this exact shape also merges shard sketches built on
# different days without rescanning.  The one full shuffle is the
# distinct() every exact COUNT(DISTINCT) would need anyway; the exact
# count rides along as the built-in quality check.

HLL_M = 64          # registers (p = 6 bits)
HLL_REM_BITS = 54   # 60-bit md5 hash minus the 6 register bits
_HLL_SCALE = 30     # sum 2^-M as integers scaled by 2^30
_HLL_ALPHA_PPM = 709377  # alpha_64 = 0.7213 / (1 + 1.079/64), in ppm
_HLL_NUM = _HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << _HLL_SCALE)


@register(
    "q218_hll_distinct",
    oracle=f"""
    WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             {_duck_md5_int("'hll:' || CAST(user_id AS VARCHAR)")} AS h
      FROM pairs
    ),
    rho AS (
      SELECT event_type, h % {HLL_M} AS j,
             CASE WHEN (h // {HLL_M}) = 0 THEN {HLL_REM_BITS + 1}
                  ELSE {HLL_REM_BITS + 1} - length(bin(h // {HLL_M}))
             END AS rho
      FROM h
    ),
    regs AS (
      SELECT event_type, j, max(rho) AS m_j
      FROM rho GROUP BY event_type, j
    ),
    folded AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_present,
             CAST(sum(m_j) AS BIGINT) AS sum_rho,
             CAST(max(m_j) AS BIGINT) AS max_rho,
             CAST(sum((1::BIGINT << {_HLL_SCALE}) >> m_j) AS BIGINT) AS s_present
      FROM regs GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
      FROM pairs GROUP BY event_type
    )
    SELECT f.event_type,
           CAST({HLL_M} - n_present AS BIGINT) AS v_zero,
           sum_rho, max_rho,
           CAST({_HLL_NUM}
                // (s_present + ({HLL_M} - n_present) * (1::BIGINT << {_HLL_SCALE}))
                // 1000000 AS BIGINT) AS est_distinct,
           exact_distinct
    FROM folded f JOIN exact e USING (event_type)
    """,
    doc=f"HyperLogLog distinct-user sketch per event_type (m={HLL_M}, "
        "fixed md5 hash): integer-exact registers and raw estimate, "
        "map-side-combining register max = the HLL merge operator",
    tags=("sketch", "agg", "llm"),
)
def q218_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, ["events"])["events"]
    pairs = events.select("event_type", "user_id").distinct()
    h = _md5_int(
        F.concat_ws("", F.lit("hll:"), F.col("user_id").cast("string"))
    )
    hashed = pairs.select("event_type", h.alias("h"))
    rho = (
        hashed.select(
            "event_type",
            (F.col("h") % HLL_M).alias("j"),
            F.when(
                F.expr(f"h div {HLL_M}") == 0, F.lit(HLL_REM_BITS + 1)
            )
            .otherwise(
                F.lit(HLL_REM_BITS + 1)
                - F.length(F.bin(F.expr(f"h div {HLL_M}")))
            )
            .alias("rho"),
        )
    )
    regs = rho.groupBy("event_type", "j").agg(F.max("rho").alias("m_j"))
    folded = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
        F.sum("m_j").cast("bigint").alias("sum_rho"),
        F.max("m_j").cast("bigint").alias("max_rho"),
        F.sum(F.expr(f"shiftright(cast(1 as bigint) << {_HLL_SCALE}, m_j)"))
        .cast("bigint")
        .alias("s_present"),
    )
    exact = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    s_all = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("n_present"))
        * F.lit(1 << _HLL_SCALE).cast("bigint")
    )
    return (
        folded.join(exact, "event_type")
        .select(
            "event_type",
            (F.lit(HLL_M) - F.col("n_present")).cast("bigint").alias("v_zero"),
            "sum_rho",
            "max_rho",
            F.expr(
                f"cast({_HLL_NUM} div (s_present + ({HLL_M} - n_present) "
                f"* (cast(1 as bigint) << {_HLL_SCALE})) div 1000000 as bigint)"
            ).alias("est_distinct"),
            "exact_distinct",
        )
    )


# ---------------------------------------------------------------------------
# q229 — EXACT distributed quantiles without a global sort: the
# histogram-then-probe two-pass. Pass 1 builds a per-(source, bin)
# count histogram (bin = n_chars div 256 — map-side combinable, one
# shuffle of <=a-few-hundred rows per source); the per-source
# cumulative bin counts locate, for each target percentile, the ONE
# bin containing rank ceil(p*n/100) and the rank offset inside it.
# Pass 2 touches only rows in target bins (a broadcast semi-join spec
# of |sources|x|percentiles| rows) and ranks them with a window
# partitioned by (source, pct) — a partition of ~n/256 rows, not n.
# That is the 100 TB shape: the naive exact quantile is a full sort of
# the data; this sorts 1/256th of it after two cheap aggregations.
# Bin contiguity makes the global (n_chars, doc_id) rank equal
# cum_prev(bin) + within-bin rank, so the result is EXACT — the oracle
# computes the same ranks with a plain ranked window over everything.

Q229_BIN = 256
Q229_PCTS = (50, 90, 99)


@register(
    "q229_twopass_quantiles",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    pcts AS (SELECT unnest(ARRAY{list(Q229_PCTS)}) AS pct)
    SELECT r.source, CAST(p.pct AS BIGINT) AS pct,
           CAST(r.n_chars AS BIGINT) AS q_value,
           CAST(r.n AS BIGINT) AS n_rows
    FROM ranked r JOIN pcts p
      ON r.rn = (p.pct * r.n + 99) // 100
    """,
    doc="exact per-source P50/P90/P99 of n_chars via two-pass "
    "histogram-then-probe: pass 1 a combinable bin histogram, pass 2 "
    "ranks only the target bin (~n/256 rows); oracle = full ranked "
    "window, values bit-identical",
    tags=("sketch", "agg", "llm"),
)
def q229_twopass_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    binned = docs.select(
        "source", "doc_id", "n_chars",
        F.expr(f"n_chars div {Q229_BIN}").alias("bin"),
    )
    hist = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "bin",
        (F.sum("c").over(w_cum) - F.col("c")).alias("cum_prev"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    pcts = F.explode(
        F.array(*[F.lit(p) for p in Q229_PCTS])
    ).alias("pct")
    spec = (
        cum.select("source", "bin", "cum_prev", "cum", "n", pcts)
        .withColumn("target", F.expr("(pct * n + 99) div 100"))
        .filter(
            (F.col("cum") >= F.col("target"))
            & (F.col("cum_prev") < F.col("target"))
        )
        .select(
            "source", "bin", "pct", "n",
            (F.col("target") - F.col("cum_prev")).alias("offset"),
        )
    )
    probed = binned.join(
        F.broadcast(spec), ["source", "bin"]
    )
    w_rank = Window.partitionBy("source", "pct").orderBy("n_chars", "doc_id")
    return (
        probed.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == F.col("offset"))
        .select(
            "source",
            F.col("pct").cast("bigint"),
            F.col("n_chars").cast("bigint").alias("q_value"),
            F.col("n").cast("bigint").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q253 — Bloom-filter false-positive-rate audit (Bloom 1970; the
# realized-FPR check any pipeline should run before trusting a bloom
# prune like q119's): build an m-bit / k-hash filter over the keys that
# EXIST in the fact table (customers who placed orders), then probe it
# with a GUARANTEED-negative key set — every customer key lifted into a
# disjoint 'probe:'-prefixed namespace, so no probe key can be a member
# by construction — and report the realized false-positive fraction and
# bit load.  Probing ALL customers (rather than only the no-orders
# cohort) keeps the negative sample large even at SFs where nearly
# every customer has orders, so the measured FPR has tight variance.
# Spark's injected runtime bloom (q119) is JVM-internal and engine-
# specific; this audit rebuilds the textbook filter from first
# principles with md5 positions, so the DuckDB oracle reproduces every
# bit and the FPR is hash-exact.
#
# Scale shape: the filter is a distinct-position set <= m rows (m =
# 4096 — broadcast-sized by construction, like any real bloom bitmap);
# members fold to it through a distinct + explode(k) + distinct, all
# partial-agg friendly.  The probe side is a namespace-prefix
# projection of the customer keys then a broadcast hash probe per
# position — the probe table never shuffles on anything but its own
# aggregate.
# A per-key false positive = ALL of its distinct positions are set
# (counting distinct positions guards the within-key hash-collision
# case where k draws land on fewer than k bits).

BLOOM_M = 4096  # filter bits
BLOOM_K = 3     # hash functions


def _q253_positions_sql(key_expr: str) -> str:
    parts = []
    for i in range(BLOOM_K):
        salted = "'bf" + str(i) + ":' || CAST(" + key_expr + " AS VARCHAR)"
        parts.append(f"{_duck_md5_int(salted)} % {BLOOM_M}")
    return ", ".join(parts)


@register(
    "q253_bloom_fpr_audit",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
    ),
    bits AS (
      SELECT DISTINCT unnest([{_q253_positions_sql('key')}]) AS pos
      FROM members
    ),
    negatives AS (
      SELECT 'probe:' || CAST(c_custkey AS VARCHAR) AS key FROM customer
    ),
    probes AS (
      SELECT DISTINCT key, unnest([{_q253_positions_sql('key')}]) AS pos
      FROM negatives
    ),
    per_key AS (
      SELECT p.key,
             count(*) AS n_pos,
             count(b.pos) AS n_hit
      FROM probes p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.key
    )
    SELECT CAST({BLOOM_M} AS BIGINT) AS m_bits,
           CAST({BLOOM_K} AS BIGINT) AS k_hashes,
           (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_set_bits,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) * 1000000
             // {BLOOM_M} AS load_ppm,
           CAST(count(*) AS BIGINT) AS n_negatives,
           CAST(coalesce(sum(CASE WHEN n_hit = n_pos THEN 1 END), 0) AS BIGINT)
             AS n_false_pos,
           CAST(coalesce(sum(CASE WHEN n_hit = n_pos THEN 1 END), 0) AS BIGINT)
             * 1000000 // count(*) AS fpr_ppm
    FROM per_key
    """,
    doc=f"Bloom FPR audit: {BLOOM_M}-bit/{BLOOM_K}-hash filter over fact "
    "keys probed with the exact true-negative cohort; realized FPR and "
    "bit load in ppm, every bit oracle-reproducible",
    tags=("sketch", "quality"),
)
def q253_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])

    def positions(df: DataFrame, key) -> DataFrame:
        pos = F.explode(
            F.array(
                *[
                    _md5_int(F.concat(F.lit(f"bf{i}:"), key.cast("string")))
                    % BLOOM_M
                    for i in range(BLOOM_K)
                ]
            )
        ).alias("pos")
        return df.select(F.col("key"), pos).distinct()

    members = (
        t["orders"].select(F.col("o_custkey").cast("string").alias("key")).distinct()
    )
    bits = positions(members, F.col("key")).select("pos").distinct()
    # probes draw from a DISJOINT key namespace ('probe:' prefix) so the
    # true-negative set is non-empty by construction at every SF — the
    # testdata's customers all have orders, so "customers without
    # orders" is empty exactly when the audit needs negatives most
    negatives = t["customer"].select(
        F.concat(F.lit("probe:"), F.col("c_custkey").cast("string")).alias("key")
    )
    probes = positions(negatives, F.col("key"))
    per_key = (
        probes.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
        )
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.count("hit").alias("n_hit"),
        )
    )
    n_members = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_set_bits"))
    return (
        per_key.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_negatives"),
            F.coalesce(
                F.sum(F.when(F.col("n_hit") == F.col("n_pos"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.lit(BLOOM_M).cast("bigint").alias("m_bits"),
            F.lit(BLOOM_K).cast("bigint").alias("k_hashes"),
            "n_members",
            "n_set_bits",
            F.expr(f"n_set_bits * 1000000 div {BLOOM_M}").alias("load_ppm"),
            "n_negatives",
            "n_false_pos",
            F.expr("n_false_pos * 1000000 div n_negatives").alias("fpr_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q279 — linear-counting distinct sketch (r12): the LOW-cardinality
# companion to q218's HyperLogLog; production sketch libraries serve
# linear counting below ~m/2 occupancy and switch to HLL above it, so
# the pair together is the real estimator surface.  The sketch state is
# an m-bit occupancy bitmap — here the exact integer set of occupied
# positions, merged by union (bit_or), with the estimate
# m·ln(m/empty) evaluated as ONE shared IEEE scalar over the two
# integer counts — bit-identical in both engines, the q57/q227
# convention for transcendentals.  A saturated bitmap (empty = 0) has
# no finite estimate and reports NULL — the switch-to-HLL signal.
# Scale notes: the occupancy set partial-aggregates map-side (distinct
# (event_type, j) is at most m rows per group per partition), so the
# exchange carries ≤ m·|groups| rows regardless of corpus size.

LC_M = 4096


@register(
    "q279_linear_counting",
    oracle=f"""
    WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             {_duck_md5_int("'lc:' || CAST(user_id AS VARCHAR)")} % {LC_M} AS j
      FROM pairs
    ),
    occ AS (
      SELECT event_type, CAST(count(DISTINCT j) AS BIGINT) AS n_present
      FROM h GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
      FROM pairs GROUP BY event_type
    )
    SELECT o.event_type, o.n_present,
           CAST({LC_M} - o.n_present AS BIGINT) AS v_zero,
           CASE WHEN o.n_present < {LC_M}
                THEN CAST(floor({LC_M} * ln(CAST({LC_M} AS DOUBLE)
                                            / ({LC_M} - o.n_present)))
                     AS BIGINT) END AS est_distinct,
           e.exact_distinct,
           CASE WHEN o.n_present < {LC_M}
                THEN CAST(abs(CAST(floor({LC_M} * ln(CAST({LC_M} AS DOUBLE)
                                            / ({LC_M} - o.n_present)))
                              AS BIGINT) - e.exact_distinct) * 1000000
                     // e.exact_distinct AS BIGINT) END AS err_ppm
    FROM occ o JOIN exact e USING (event_type)
    """,
    doc=f"linear-counting distinct-user sketch per event_type (m={LC_M} "
    "bitmap, fixed md5 hash): exact integer occupancy merged by union, "
    "estimate m*ln(m/empty) as one shared IEEE scalar, NULL when "
    "saturated (the switch-to-HLL signal) — the low-cardinality "
    "companion of q218",
    tags=("sketch", "agg", "llm"),
)
def q279_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, ["events"])["events"]
    pairs = events.select("event_type", "user_id").distinct()
    j = _md5_int(
        F.concat_ws("", F.lit("lc:"), F.col("user_id").cast("string"))
    ) % LC_M
    occ = (
        pairs.select("event_type", j.alias("j"))
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_present"))
    )
    exact = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    est = F.floor(
        LC_M
        * F.log(F.lit(float(LC_M)) / (F.lit(LC_M) - F.col("n_present")))
    ).cast("bigint")
    return (
        occ.join(exact, "event_type")
        .withColumn(
            "est_distinct", F.when(F.col("n_present") < LC_M, est)
        )
        .select(
            "event_type",
            "n_present",
            (F.lit(LC_M) - F.col("n_present")).cast("bigint").alias("v_zero"),
            "est_distinct",
            "exact_distinct",
            F.expr(
                "CASE WHEN est_distinct IS NOT NULL THEN "
                "abs(est_distinct - exact_distinct) * 1000000 "
                "div exact_distinct END"
            ).cast("bigint").alias("err_ppm"),
        )
    )
