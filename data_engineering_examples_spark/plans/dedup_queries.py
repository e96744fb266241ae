"""L4 — deduplication operators over the ``documents`` table (LLM-pipeline
surface; builder brief "Deduplication" + SURVEY §2 A3/W4 generalized).

Four dedup families, each chosen for 100 TB behavior:

* **q22 exact** — normalize → sha256 → hash-groupBy. One shuffle on the
  hash; at scale the hash column is a perfect partitioner (uniform, no
  skew). The reference's analog is the dup-GMP HAVING count(*)>1 pattern
  (``notebooks/DeleteDuplicatesinIRISFHIRServer.ipynb`` cell 0).
* **q23 n-gram Jaccard** — shingle-join candidate generation: ONLY pairs
  sharing ≥1 shingle are ever joined (the classic inverted-index trick);
  never an O(n²) cross join. Shingle hot-keys (stopword-only shingles) are
  the skew risk at scale → AQE skew-join handles the residual.
* **q24 MinHash-LSH** — 16 permutations, 8 bands × 2 rows. Candidate pairs
  come from band-bucket self-joins, so work scales with bucket sizes (tied
  to the similarity threshold), not n². All hashing is explicit modular
  arithmetic over an md5-derived integer, so the ENTIRE pipeline —
  signatures, banding, pair generation — is reproduced exactly by the
  DuckDB oracle (no "approximate so untestable" cop-out).
* **q25 SimHash** — 32-bit sign-of-sums fingerprint; near-dups differ in
  few bits. Fingerprinting is a pure map + one groupBy(doc) — embarrassing
  parallel at any scale; Hamming-banding for pair generation would reuse
  the q24 band-join shape.

Everything is built-in Column expressions (md5/sha2/split/explode/
aggregates) — zero Python UDFs, full codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scratch import materialize, memo_substrate
from ..sources.tables import load_tables, scale_out
from .registry import register

# --- shared deterministic hashing ------------------------------------------
# 60-bit integer from md5 (15 hex chars): identical in Spark
# (conv(substr(md5(x),1,15),16,10)) and DuckDB (('0x'||substr)::UBIGINT).
P = 2147483647  # 2^31 - 1; keeps a*x + b inside int64 after x % P

# 16 fixed affine permutations (a, b) — odd multipliers, deterministic.
MINHASH_COEFFS = [(2 * i + 1, 104729 * (i + 1) % P) for i in range(1, 17)]
N_BANDS, ROWS_PER_BAND = 8, 2


def _md5_int(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _duck_md5_int(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15))::UBIGINT AS BIGINT)"


def _word_trigrams(tokens) -> F.Column:
    """Word 3-gram shingles via sequence+transform — pure codegen, no UDF."""
    return F.transform(
        F.sequence(F.lit(0), F.size(tokens) - 3),
        lambda i: F.concat_ws(
            " ", F.get(tokens, i), F.get(tokens, i + 1), F.get(tokens, i + 2)
        ),
    )


_DUCK_TRIGRAMS = (
    "list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the shared candidate substrate.

    At 100 TB this substrate is materialized once (bucketed by shingle
    hash) rather than recomputed per consumer; the query plans here stay
    pure/declarative and recompute it, which AQE handles fine at test SF."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    tokens = F.split(docs.text, " ")
    return (
        docs.select("doc_id", F.explode(_word_trigrams(tokens)).alias("shingle"))
        .distinct()
    )


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) with the shingle reduced to a 60-bit md5 int BEFORE the
    distinct/shuffle: the exchange and join keys carry 8 bytes instead of
    the shingle string — materially narrower shuffles at scale. Collision
    probability at 2^60 is negligible and, being the same function in the
    DuckDB oracle, bit-identical anyway.

    Shape note (measured 4×): positions are EXPLODED first and the shingle
    string + md5 built row-wise — those run inside whole-stage codegen.
    The equivalent higher-order form (``transform`` building the shingle
    array, then explode) evaluates its lambdas in interpreted mode and was
    4-8× slower at sf0.1; HOFs stay out of this hot path deliberately.

    Memoized per (session, sf_dir): ELEVEN registry queries consume
    this substrate (q23/q61/q63/q77/q105/q205/q236/q246 and the
    MinHash pipeline under q24), so a sweep builds the inverted index
    once — the same materialize-once treatment as q24's pair list and
    q72's membership table (r10 ask #2)."""

    def build() -> DataFrame:
        return _hashed_shingles_build(spark, sf_dir)

    return memo_substrate(spark, "hashed_shingles", sf_dir, build)


def _hashed_shingles_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-position md5 below is compute-bound: spread a one-row-group
    # scan across cores (no-op at real scale — see scale_out)
    docs = scale_out(load_tables(spark, sf_dir, ["documents"])["documents"])
    tk = docs.select("doc_id", F.split(docs.text, " ").alias("t"))
    # <3-token docs MUST be filtered before sequence(): sequence(0, n-3)
    # with n<3 descends through negatives and element_at(t, 0) throws
    # INVALID_INDEX_OF_ZERO — the filter keeps the old explode form's
    # "short doc → no shingles" semantics (and is a free codegen predicate)
    pos = tk.filter(F.size("t") >= 3).select(
        "doc_id", "t", F.explode(F.sequence(F.lit(0), F.size("t") - 3)).alias("i")
    )
    shingle = F.concat_ws(
        " ",
        F.element_at("t", F.col("i") + 1),
        F.element_at("t", F.col("i") + 2),
        F.element_at("t", F.col("i") + 3),
    )
    return pos.select("doc_id", _md5_int(shingle).alias("sh")).distinct()


_DUCK_SHINGLES = f"""
  tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  sh AS (SELECT DISTINCT doc_id, unnest({_DUCK_TRIGRAMS}) AS shingle FROM tok)
"""

_DUCK_HASHED_SHINGLES = f"""
  tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform({_DUCK_TRIGRAMS},
                       s -> CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT)))
                  AS sh
         FROM tok)
"""


# ---------------------------------------------------------------------------
# q22 — exact dedup: normalize -> sha256 -> hash-groupBy keep-first.


@register(
    "q22_exact_dedup",
    oracle="""
    SELECT sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="exact dedup via normalized sha256 hash-groupBy (keep-first)",
    tags=("dedup", "llm"),
)
def q22_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    norm = F.lower(F.trim(F.regexp_replace(docs.text, r"\s+", " ")))
    return (
        docs.select(F.sha2(norm, 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# q23 — n-gram Jaccard near-dup pairs via shingle-join candidates.
# Pairs must share >= 2 shingles (candidate pruning); jaccard is exact
# |A∩B| / |A∪B| over distinct word-trigram sets.
#
# Hot-shingle guard: a shingle present in d documents contributes
# O(d²) candidate pairs, so ONE boilerplate trigram shared by 10⁶ docs
# would emit ~10¹² pairs. Shingles with document frequency above the
# cap are dropped from the candidate substrate (and, symmetrically,
# from the per-doc set sizes, so jaccard stays a true Jaccard over the
# pruned shingle space). Ubiquitous shingles carry no near-dup signal —
# this is the df-cap standard in MinHash/shingling practice.
#
# The cap is N-RELATIVE (r10; the r9 sf1 sweep measured the dial: the
# old absolute 512 emitted 11.4M pairs/17.3s at 10× data where 64 gave
# 226k/2.7s): a shingle is "boilerplate" when it appears in more than
# SHINGLE_DF_PPM parts-per-million of the corpus, floored at
# SHINGLE_DF_MIN_CAP so tiny fixtures keep their full shingle space.
# 1280 ppm reproduces the measured-good 64 at the 50k-doc synthetic sf1
# and is a no-op below it (floor binds; measured df max at sf0.1 is
# 25 < 64).  Relative, not absolute, because a legitimate duplicate
# CLUSTER of d docs shares all its shingles at df = d — an absolute cap
# frozen at test scale would silently delete every large dup cluster
# from the candidate space at corpus scale.  The arithmetic is pure
# integer (ceil via (n·ppm + 999999) // 10⁶) so both engines derive an
# identical cap from an identical N.  Per-shingle pair fan-out is then
# bounded at ~cap²/2; past the SF where that bound matters, q24's
# MinHash-LSH is the documented scale path for near-dup candidates.

SHINGLE_DF_PPM = 1280
SHINGLE_DF_MIN_CAP = 64

#: the same computed cap, as a DuckDB scalar subquery over the corpus
_DUCK_DF_CAP = (
    f"(SELECT greatest({SHINGLE_DF_MIN_CAP},"
    f" (count(*) * {SHINGLE_DF_PPM} + 999999) // 1000000) FROM documents)"
)


def _shingle_df_cap(n_docs: int) -> int:
    return max(SHINGLE_DF_MIN_CAP, (n_docs * SHINGLE_DF_PPM + 999999) // 1_000_000)


def _jaccard_pair_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, shared, na, nb): q23's candidate pairs with their
    exact integer Jaccard components (shared >= 2 prune, df-capped
    substrate).  Shared by q23 (final jaccard projection) and q259 (the
    threshold sensitivity sweep over the SAME pair universe)."""
    # df-cap via a window over the shingle key: ONE shuffle on shingle,
    # whose partitioning the pair self-join (also keyed on shingle)
    # then reuses — the guard costs no extra exchange.
    w = Window.partitionBy("shingle")
    # materialize the capped substrate ONCE: it feeds both self-join
    # sides AND the size lookup, and runtime exchange reuse only dedupes
    # the scan — each branch would still pay its own explode+md5+window
    # chain (measured: 4 copies of a 2-exchange pipeline). This is the
    # "substrate materialized once, bucketed by shingle" pattern from the
    # module docstring, expressed as a checkpoint at query scope.
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    cap = _shingle_df_cap(docs.count())  # footer-count bound fetch
    sh = materialize(
        _hashed_shingles(spark, sf_dir)
        .withColumnRenamed("sh", "shingle")
        .withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= cap)
        .drop("df"),
        "q23_shingles",
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
    )
    # sizes is tiny relative to the pair set — broadcast both lookups
    sa = F.broadcast(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"))
    sb = F.broadcast(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")



@register(
    "q23_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_DUCK_HASHED_SHINGLES},
    shf AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh
      ) WHERE df <= {_DUCK_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT i.doc_a, i.doc_b, i.shared,
           CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
    doc="n-gram Jaccard near-dup pairs; df-capped hashed-shingle join, never O(n^2)",
    tags=("dedup", "llm"),
)
def q23_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pair_components(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        "shared",
        (F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q236 — train/eval contamination detection (decontamination scan).
# The standard pre-training hygiene pass (GPT-3 appendix C shape):
# every document of a small held-out EVAL set is checked for n-gram
# CONTAINMENT in the training corpus — an eval doc whose shingles
# largely reappear in some training doc is contaminated and the train
# doc must be dropped before training.  Containment, not Jaccard: a
# short eval doc embedded in a long train doc has low Jaccard but
# containment ~1, which is exactly the leak signal.
#
# Relationship to q79 (corpus_queries): q79 answers "which TRAIN docs
# touch the pooled eval shingle set at all" — a boolean drop-list, one
# row per train doc, no attribution.  q236 answers the audit question
# q79 can't: WHICH eval doc leaks into WHICH train doc and how badly
# (per-pair containment fraction), with the df-cap discipline q79
# deliberately omits.  A real pipeline runs q79's shape to cut and
# q236's shape to report.
#
# The eval set is the deterministic ~1% slice doc_id % EVAL_MOD == 0
# (a real pipeline would ship a benchmark fingerprint table; the slice
# keeps the query self-contained over the fixture corpus).
#
# Scale shape — the part that matters at 100 TB of training text: the
# candidate join BROADCASTS the eval-side shingle set (eval suites are
# millions of n-grams at most) against the training substrate, so the
# training corpus is scanned ONCE with scan-local hash probes — no
# shuffle of the big side at all.  The only full exchange is the
# df-cap window on the shingle key (shared discipline with q23: a
# boilerplate shingle in d train docs fans out d× per eval occurrence,
# so ubiquitous shingles are cut on BOTH sides, keeping containment a
# true fraction over the informative-shingle space).  The final
# (eval_doc, train_doc) aggregation groups the broadcast-join output —
# partial aggregation collapses it map-side to at most
# |eval docs| × |matched train docs| rows.

EVAL_MOD = 97
CONTAMINATION_MIN_SHARED = 2


@register(
    "q236_eval_contamination",
    oracle=f"""
    WITH {_DUCK_HASHED_SHINGLES},
    shf AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh
      ) WHERE df <= {_DUCK_DF_CAP}
    ),
    ev AS (SELECT doc_id, sh FROM shf WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (SELECT doc_id, sh FROM shf WHERE doc_id % {EVAL_MOD} <> 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY doc_id),
    inter AS (
      SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
             count(*) AS shared
      FROM ev e JOIN tr t ON e.sh = t.sh
      GROUP BY 1, 2 HAVING count(*) >= {CONTAMINATION_MIN_SHARED}
    )
    SELECT i.eval_doc, i.train_doc, i.shared,
           CAST(i.shared AS DOUBLE) / s.n AS containment
    FROM inter i JOIN sizes s ON s.doc_id = i.eval_doc
    """,
    doc="train/eval contamination scan: eval-set shingles broadcast "
    "against the df-capped training substrate, n-gram containment per "
    "(eval, train) pair — the decontamination pass a pre-training "
    "pipeline runs before every training run",
    tags=("dedup", "llm", "governance"),
)
def q236_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("shingle")
    # one shuffle on the shingle key for the df cap (q23's discipline),
    # materialized once: eval split, train split and the size lookup
    # all read it
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    cap = _shingle_df_cap(docs.count())  # footer-count bound fetch
    sh = materialize(
        _hashed_shingles(spark, sf_dir)
        .withColumnRenamed("sh", "shingle")
        .withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= cap)
        .drop("df"),
        "q236_shingles",
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev = sh.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = sh.filter(~is_eval).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    sizes = ev.groupBy("eval_doc").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        # broadcast the SMALL eval fingerprint set: the training
        # substrate streams through scan-local probes, never shuffles
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= CONTAMINATION_MIN_SHARED)
    )
    return inter.join(F.broadcast(sizes), "eval_doc").select(
        "eval_doc",
        "train_doc",
        "shared",
        (F.col("shared").cast("double") / F.col("n")).alias("containment"),
    )


# ---------------------------------------------------------------------------
# q237 — repeated-span CUT PLAN (ExactSubstr-style substring dedup).
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") remove every substring that appears more than once in the
# corpus; the reference implementation builds a suffix array.  At
# corpus scale the standard approximation is token k-gram rolling
# windows: a position is duplicated iff its k-token window occurs ≥ 2
# times ANYWHERE (another doc or the same one), and maximal runs of
# consecutive duplicated positions become the spans to cut.  q206
# measures the RATE of such duplication and q134 catches prefix dups;
# this query emits the actionable artifact — (doc_id, span_start,
# span_end, n_tokens) per maximal repeated span — which is what a
# trimming pass actually consumes.
#
# Scale shape: the gram table is O(total tokens) rows carrying an
# 8-byte hash; duplicate marking is ONE exchange (count window on the
# hash key, q23's discipline — no join back); span merging is the
# gaps-and-islands pattern under a per-doc window (second exchange,
# keyed on doc_id).  No pair joins anywhere, so corpus-wide verbatim
# boilerplate cannot blow the plan up — fan-out is linear in positions.

Q237_K = 8  # tokens per window


@register(
    "q237_repeated_span_cuts",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - {Q237_K} + 2)) AS p
      FROM tok WHERE len(t) >= {Q237_K}
    ),
    g AS (
      SELECT doc_id, p,
             {_duck_md5_int(
                 f"array_to_string(t[CAST(p AS INT):CAST(p AS INT) + {Q237_K} - 1], ' ')"
             )} AS h
      FROM pos
    ),
    marked AS (
      SELECT doc_id, p, count(*) OVER (PARTITION BY h) AS n FROM g
    ),
    isl AS (
      SELECT doc_id, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM marked WHERE n >= 2
    )
    SELECT doc_id,
           CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) + {Q237_K} - 1 AS BIGINT) AS span_end,
           CAST(max(p) - min(p) + {Q237_K} AS BIGINT) AS n_tokens
    FROM isl GROUP BY doc_id, grp
    """,
    doc=f"ExactSubstr-style repeated-span cut plan: {Q237_K}-token "
    "rolling windows, a position is duplicated iff its window occurs "
    ">=2 times corpus-wide, maximal duplicated runs emitted as "
    "(doc, span) cuts — the artifact a trimming pass consumes",
    tags=("dedup", "llm", "text"),
)
def q237_repeated_span_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = scale_out(
        load_tables(spark, sf_dir, ["documents"])["documents"]
    ).select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= Q237_K
    )
    g = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t") - Q237_K + 1)).alias("p"),
        "t",
    ).select(
        "doc_id",
        "p",
        _md5_int(F.array_join(F.slice("t", F.col("p"), Q237_K), " ")).alias("h"),
    )
    # duplicate marking: one exchange on the hash key (count window,
    # never a join back); within-doc repeats count — Lee et al. cut
    # ANY substring that appears twice, same doc or not
    n = F.count(F.lit(1)).over(Window.partitionBy("h"))
    dup = g.withColumn("n", n).filter(F.col("n") >= 2).select("doc_id", "p")
    # gaps-and-islands: consecutive duplicated positions share
    # p - row_number(), so one per-doc window + groupBy yields the
    # maximal spans
    grp = F.col("p") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("p")
    )
    return (
        dup.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("p").cast("bigint").alias("span_start"),
            (F.max("p") + Q237_K - 1).cast("bigint").alias("span_end"),
            (F.max("p") - F.min("p") + Q237_K).cast("bigint").alias("n_tokens"),
        )
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# q24 — MinHash-LSH candidate pairs. Fully deterministic: md5-derived
# shingle ints, 16 affine permutations mod 2^31-1, 8 bands x 2 rows,
# within-bucket self-join. The DuckDB oracle reproduces every step.


def _duck_minhash_bands_cte() -> str:
    """The shared shingles→signatures→bands CTE chain; q24's oracle and
    q61's composition both build on this ONE definition so the LSH
    structure can never silently diverge between them."""
    sig_exprs = ", ".join(
        f"min(({a} * x + {b}) % {P}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, concat_ws('-', s{2 * j}, s{2 * j + 1}) AS bkey FROM sigs"
        for j in range(N_BANDS)
    )
    return f"""{_DUCK_HASHED_SHINGLES},
    xs AS (SELECT doc_id, sh % {P} AS x FROM sh),
    sigs AS (SELECT doc_id, {sig_exprs} FROM xs GROUP BY doc_id),
    bands AS ({band_selects})"""


def _duck_minhash_oracle() -> str:
    return f"""
    WITH {_duck_minhash_bands_cte()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    """


def _bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bkey) — the LSH band index; one definition shared by
    the full pairwise query (q24) and the incremental probe (q63)."""
    xs = _hashed_shingles(spark, sf_dir).select("doc_id", (F.col("sh") % P).alias("x"))
    sigs = xs.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % P).alias(f"s{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.concat_ws("-", F.col(f"s{2 * j}"), F.col(f"s{2 * j + 1}")).alias("bkey"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")


@register(
    "q24_minhash_lsh_pairs",
    oracle=_duck_minhash_oracle(),
    doc="MinHash(16)-LSH(8x2) candidate pairs; bucket-join only, oracle-exact",
    tags=("dedup", "llm"),
)
def q24_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pair list is the candidate substrate for SIX registry queries
    # (q72/q95/q105/q228/q238 compose it) — memoized per (session,
    # sf_dir) so one sweep builds the LSH index once, exactly as a
    # production pipeline materializes its candidate-pair table once
    # per corpus snapshot.
    def build() -> DataFrame:
        bands = _bands(spark, sf_dir)
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )

    return memo_substrate(spark, "q24_lsh_pairs", sf_dir, build)


# ---------------------------------------------------------------------------
# q25 — 32-bit SimHash fingerprint per document (token-frequency weighted:
# each occurrence votes ±1 per bit; bit set iff the vote sum is positive).


def _duck_simhash_oracle() -> str:
    h = _duck_md5_int("w")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    recompose = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    hs AS (SELECT doc_id, {h} AS h FROM tok),
    bits AS (SELECT doc_id, {bit_sums} FROM hs GROUP BY doc_id)
    SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits
    """


@register(
    "q25_simhash_fingerprint",
    oracle=_duck_simhash_oracle(),
    doc="32-bit SimHash document fingerprint; map + one groupBy, no UDF",
    tags=("dedup", "llm"),
)
def q25_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode + per-token md5 + 32 partial sums are the CPU hot path and
    # run at SCAN parallelism — spread a small scan first (scale-safe no-op)
    docs = scale_out(load_tables(spark, sf_dir, ["documents"])["documents"])
    tok = docs.select("doc_id", F.explode(F.split(docs.text, " ")).alias("w"))
    hs = tok.select("doc_id", _md5_int(F.col("w")).alias("h"))

    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(32)
    ]
    bits = hs.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for i in range(32):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bits.select("doc_id", simhash.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# q61 — end-to-end dedup VERDICT: the decision table a training-data
# pipeline actually consumes. Composes the exact pass (q22: keep the
# min-doc_id copy of each normalized-text hash group) with the MinHash-
# LSH near-dup pass (q24: of each candidate pair, drop the larger
# doc_id). Priorities: exact_dup > near_dup > keep. Reuses the component
# queries directly (q22's keeper column, q24's pair set) and the shared
# DuckDB band CTE, so the verdict can never diverge from the operators
# it composes. Only the DROP sets are broadcast — both are bounded by
# the duplicate rate, not the corpus size (the keep-set would be ~every
# document and must never be broadcast at 100 TB).


@register(
    "q61_dedup_verdict",
    oracle=f"""
    WITH {_duck_minhash_bands_cte()},
    near_drop AS (
      SELECT DISTINCT b.doc_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    exact_drop AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               min(doc_id) OVER (
                 PARTITION BY sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               ) AS keeper
        FROM documents
      ) WHERE doc_id <> keeper
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'keep' END AS verdict
    FROM documents d
    LEFT JOIN exact_drop e ON e.doc_id = d.doc_id
    LEFT JOIN near_drop n ON n.doc_id = d.doc_id
    """,
    doc="dedup decision table: exact keep-first + LSH drop-larger, composed",
    tags=("dedup", "llm"),
)
def q61_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # exact DROP set = docs minus q22's keepers; |drops| == number of
    # duplicate copies — small whenever dup rate is low, broadcastable
    exact_drop = (
        docs.select("doc_id")
        .join(
            q22_exact_dedup(spark, sf_dir).select(
                F.col("keeper_doc_id").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
    )
    near_drop = (
        q24_minhash_lsh_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    e = F.broadcast(exact_drop.withColumn("_exact", F.lit(1)))
    n = F.broadcast(near_drop.withColumn("_near", F.lit(1)))
    return (
        docs.select("doc_id")
        .join(e, "doc_id", "left")
        .join(n, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_exact").isNotNull(), "exact_dup")
            .when(F.col("_near").isNotNull(), "near_dup")
            .otherwise("keep")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# q63 — INCREMENTAL near-dup: a new ingest batch (doc_id >= NEW_SPLIT
# stands in for today's arrivals) probes the EXISTING corpus's LSH band
# index instead of re-pairing the whole corpus. This is the form a daily
# 100 TB pipeline actually runs: the index is materialized once (bucketed
# by (band, bkey)), the probe side is only the new batch, and candidate
# work scales with |new| × bucket occupancy — re-running the full
# pairwise q24 daily would re-shuffle the entire history every day.

NEW_SPLIT = 450  # fixture corpus is 500 docs; last 50 are the "new batch"


@register(
    "q63_incremental_neardup",
    oracle=f"""
    WITH {_duck_minhash_bands_cte()}
    SELECT DISTINCT n.doc_id AS new_doc, x.doc_id AS existing_doc
    FROM bands n JOIN bands x
      ON n.band = x.band AND n.bkey = x.bkey
    WHERE n.doc_id >= {NEW_SPLIT} AND x.doc_id < {NEW_SPLIT}
    """,
    doc="incremental near-dup: new batch probes existing band index only",
    tags=("dedup", "llm", "T2"),
)
def q63_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _bands(spark, sf_dir)
    index = bands.filter(F.col("doc_id") < NEW_SPLIT).select(
        F.col("doc_id").alias("existing_doc"), "band", "bkey"
    )
    probe = bands.filter(F.col("doc_id") >= NEW_SPLIT).select(
        F.col("doc_id").alias("new_doc"), "band", "bkey"
    )
    # probe side is the small one — broadcast it against the (large,
    # pre-bucketed at scale) index
    return (
        F.broadcast(probe)
        .join(index, ["band", "bkey"])
        .select("new_doc", "existing_doc")
        .distinct()
    )


# ---------------------------------------------------------------------------
# q72 — dedup CLUSTERS: connected components over the union of exact-dup
# edges (sha-group stars) and MinHash-LSH candidate edges. Pairs (q23/
# q24) tell you who collided; the pipeline decision — keep ONE document
# per duplicate GROUP — needs the transitive closure (A~B, B~C ⇒ one
# cluster even when A~C never collided). cluster_id = min doc_id in the
# component, so `doc_id == cluster_id` is the keeper rule.
#
# Algorithm: min-label propagation WITH pointer jumping — each round
# every node adopts min(own label, neighbours' labels, label-of-label),
# so convergence is O(log diameter) rounds, not O(diameter), and the
# loop runs until a probe sees no label move. Each round
# is two shuffles (neighbour min on u, label lookup on label); rounds
# are materialized through scratch.materialize() so the plan stays flat
# instead of doubling per iteration, on storage that survives executor
# loss (the GraphFrames/GraphX CC pattern re-expressed on DataFrames).
# Deterministic: min over a semilattice, order-independent. The oracle
# is the full transitive closure via DuckDB's recursive CTE.


@register(
    "q72_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {{bands_cte}},
    exact_e AS (
      SELECT keeper AS u, doc_id AS v FROM (
        SELECT doc_id, min(doc_id) OVER (
          PARTITION BY sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keeper
        FROM documents)
      WHERE doc_id <> keeper
    ),
    near_e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    e AS (SELECT u, v FROM exact_e UNION SELECT u, v FROM near_e),
    bidir AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
    reach(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT b.u, r.label FROM bidir b JOIN reach r ON r.id = b.v
    ),
    cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
    SELECT id AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           id = cluster_id AS is_keeper
    FROM cc
    """.format(bands_cte=_duck_minhash_bands_cte()),
    doc="dedup clusters: connected components over exact+LSH edges (keeper=min)",
    tags=("dedup", "llm", "graph"),
)
def q72_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The membership table (doc_id, cluster_id, cluster_size, is_keeper)
    # is the corpus-curation substrate: q247 (SoftDedup weights), q250
    # (dedup-adjusted mixing), q255 (cluster-safe split) and the corpus
    # planners all compose it.  Memoized per (session, sf_dir) so a full
    # sweep runs exact-hash + LSH + CC-to-fixpoint ONCE — the
    # "materialize dedup clusters once per corpus snapshot" shape of a
    # production pipeline (r10 VERDICT ask #2).
    def build() -> DataFrame:
        docs = load_tables(spark, sf_dir, ["documents"])["documents"]
        norm = F.lower(F.trim(F.regexp_replace(docs.text, r"\s+", " ")))
        keyed = docs.select("doc_id", F.sha2(norm, 256).alias("h"))
        keeper = F.min("doc_id").over(Window.partitionBy("h"))
        exact_e = (
            keyed.withColumn("k", keeper)
            .filter(F.col("doc_id") != F.col("k"))
            .select(F.col("k").alias("u"), F.col("doc_id").alias("v"))
        )
        near_e = q24_minhash_lsh_pairs(spark, sf_dir).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        # materialize the edge set ONCE — it feeds every propagation
        # round, and recomputing it would re-run the whole LSH pipeline
        # per round (operators/graph.py checkpoints the bidirected form
        # internally)
        edges = exact_e.union(near_e).distinct()
        from ..operators.graph import connected_components

        cc = connected_components(
            docs.select(F.col("doc_id").alias("id")), edges,
            scratch_prefix="q72_cc",
        )
        return cc.select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster_id"))
            .alias("cluster_size"),
            (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
        )

    return memo_substrate(spark, "q72_membership", sf_dir, build)


# ---------------------------------------------------------------------------
# q95 — PageRank over the near-dup graph: which documents sit at the
# center of large duplication families (canonical-selection / crawl-
# authority signal for corpus curation). Three Lloyd-style fixed
# iterations of r'(v) = 0.15 + 0.85·Σ_{u→v} r(u)/deg(u) over the
# bidirected LSH-pair edge set.
#
# Determinism design: ranks live in integer pico-units (1.0 = 10¹²) and
# every step is integer arithmetic — r div deg, sum of BIGINT, (85·s)
# div 100 — so per-node sums are order-independent and both engines
# produce bit-identical ranks; the oracle unrolls the three iterations
# as CTEs. (Float PageRank sums would be partition-order-dependent and
# force this into the rows-only gate — the same trick as q94.)
#
# Scale shape: the adjacency (edge, deg) substrate is checkpointed once
# and reused per iteration; each iteration is one shuffle-join of edges
# against the current rank vector plus one keyed sum — the classic
# distributed PR step. At 1000 executors both sides hash-partition on
# the join key; nothing is ever collected to the driver.

PR_ITERS = 3
PR_UNIT = 1_000_000_000_000  # 1.0 in pico-units


def _duck_pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
    s{i} AS (SELECT a.v AS id, CAST(sum(r.r // a.deg) AS BIGINT) AS s
             FROM adj a JOIN {prev} r ON r.id = a.u GROUP BY a.v),
    r{i} AS (SELECT id, CAST({PR_UNIT * 15 // 100} + (85 * s) // 100 AS BIGINT) AS r
             FROM s{i})""")
        prev = f"r{i}"
    return f"""
    WITH {_duck_minhash_bands_cte()},
    e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    bidir AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM bidir GROUP BY u),
    adj AS (SELECT b.u, b.v, d.deg FROM bidir b JOIN deg d USING (u)),
    r0 AS (SELECT u AS id, CAST({PR_UNIT} AS BIGINT) AS r FROM deg),
    {",".join(iters)}
    SELECT d.u AS doc_id, d.deg AS degree,
           CAST({prev}.r AS DOUBLE) / {PR_UNIT}.0 AS pagerank
    FROM {prev} JOIN deg d ON d.u = {prev}.id
    """


@register(
    "q95_neardup_pagerank",
    oracle=_duck_pagerank_oracle(),
    doc="PageRank (3 fixed iterations, integer pico-unit arithmetic) over "
    "the bidirected LSH near-dup graph; per-iteration edge-join + keyed sum",
    tags=("dedup", "llm", "graph", "iterative"),
)
def q95_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = q24_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # pairs are distinct with u < v, so the reversed union is dup-free.
    # Checkpoint the EDGE SET itself — deg, adj, the rank init, AND the
    # final degree join all derive from it, and each un-checkpointed
    # consumer would re-run the whole MinHash pipeline (measured: 3
    # upstream replays, ~2s of the query's 4s at sf0.1)
    bidir = materialize(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "q95_pr_edges",
    )
    deg = bidir.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    adj = bidir.join(deg, "u")

    ranks = deg.select(
        F.col("u").alias("id"), F.lit(PR_UNIT).cast("bigint").alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = adj.join(ranks, adj.u == ranks.id).select(
            F.col("v"), F.expr("r div deg").alias("c")
        )
        sums = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        ranks = sums.select(
            F.col("v").alias("id"),
            F.expr(
                f"CAST({PR_UNIT * 15 // 100} + (85 * s) div 100 AS BIGINT)"
            ).alias("r"),
        )
    return ranks.join(deg, ranks.id == deg.u).select(
        F.col("u").alias("doc_id"),
        F.col("deg").alias("degree"),
        (F.col("r").cast("double") / F.lit(float(PR_UNIT))).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# q123 — triangle census of the near-dup graph: the standard distributed
# triangle count (edges oriented low→high id, closed by a two-hop join)
# plus the wedge count that turns it into global transitivity. Dedup
# QA uses this to tell CHAINS (A~B~C with A!~C: transitivity ≈ 0,
# min-hash drift) from CLIQUES (true duplicate groups: transitivity ≈ 1)
# before collapsing clusters — a wrong collapse at 100 TB merges
# distinct documents irreversibly.
#
# Scale: orientation halves the edge list and makes each triangle
# countable exactly once; the two-hop join shuffles on vertex id (skew
# bounded by max near-dup degree, itself bounded by the LSH band
# structure); wedges come from one degree aggregation — no vertex ever
# gathers its full neighborhood.


@register(
    "q123_graph_triangles",
    oracle=f"""
    WITH pairs AS ({_duck_minhash_oracle()}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    deg AS (
      SELECT v, count(*) AS d
      FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
      GROUP BY v
    ),
    tri AS (
      SELECT count(*) AS t
      FROM e ab JOIN e bc ON bc.a = ab.b
                JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT coalesce(sum(d * (d - 1) // 2), 0) FROM deg) AS BIGINT)
             AS n_wedges
    """,
    doc="near-dup graph triangle census + wedge count (oriented two-hop "
    "join; chain-vs-clique QA before cluster collapse)",
    tags=("dedup", "llm", "graph"),
)
def q123_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one LSH pass, reused four times below — checkpoint, don't recompute
    edges = materialize(
        q24_minhash_lsh_pairs(spark, sf_dir).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        ),
        "q123_lsh_edges",
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    verts_wedges = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("w"),
    ).select("n_vertices", F.coalesce(F.col("w"), F.lit(0)).alias("n_wedges"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    ab, bc, ac = edges.alias("ab"), edges.alias("bc"), edges.alias("ac")
    tri = (
        ab.join(bc, F.col("bc.a") == F.col("ab.b"))
        .join(
            ac,
            (F.col("ac.a") == F.col("ab.a")) & (F.col("ac.b") == F.col("bc.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        verts_wedges.join(n_edges)
        .join(tri)
        .select("n_vertices", "n_edges", "n_triangles", "n_wedges")
    )


# ---------------------------------------------------------------------------
# q134 — prefix-duplicate detection: documents whose full text is a strict
# prefix of another document (truncated re-crawls, partial mirrors — the
# substring-dedup family from the training-data-dedup literature; exact
# substring matching needs suffix arrays, but PREFIX containment falls out
# of one sorted pass: in sorted order, if t is a prefix of any string then
# it is a prefix of its immediate successor, because every string between
# t and t||s also starts with t).
#
# Scale design — no global sort anywhere:
# * distinct texts of length >= PREFIX_KEY_LEN are windowed BY their
#   16-char prefix key (any string extending t shares t's first 16 chars,
#   so the within-group successor check is exactly the global one). Group
#   size = docs sharing a 16-char prefix; on boilerplate-heavy corpora
#   bump PREFIX_KEY_LEN (it only needs to stay <= the min long-doc
#   length) to keep groups file-sized.
# * texts shorter than the key can extend across groups, so they take an
#   equi-join instead: every distinct text emits its proper prefixes of
#   length 1..15 (bounded 15-way fan-out, map-side) and short texts
#   semi-join that substrate on equality. Short docs are rare, the
#   prefix substrate is de-duplicated before the join.
# Both legs are shuffles on high-cardinality string keys; zero windows
# over an unpartitioned ordering.

PREFIX_KEY_LEN = 16


@register(
    "q134_prefix_dups",
    oracle="""
    WITH d AS (SELECT DISTINCT text FROM documents),
    s AS (SELECT text, lead(text) OVER (ORDER BY text) AS nxt FROM d),
    flagged AS (
      SELECT text FROM s WHERE nxt IS NOT NULL AND starts_with(nxt, text)
    )
    SELECT doc.doc_id, CAST(length(doc.text) AS BIGINT) AS pfx_len
    FROM documents doc JOIN flagged USING (text)
    """,
    doc="strict-prefix duplicate detection via sorted-successor adjacency, "
    "decomposed to prefix-key windows + a bounded short-text equi-join "
    "(never a single-partition global sort)",
    tags=("dedup", "llm"),
)
def q134_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    texts = docs.select("text").distinct()

    # Long leg: within each 16-char-prefix group, sorted-successor check.
    w = Window.partitionBy("pk").orderBy("text")
    flagged_long = (
        texts.filter(F.length("text") >= PREFIX_KEY_LEN)
        .select("text", F.substring("text", 1, PREFIX_KEY_LEN).alias("pk"))
        .withColumn("nxt", F.lead("text").over(w))
        .filter(F.col("nxt").startswith(F.col("text")))
        .select("text")
    )

    # Short leg: texts below the key length semi-join the (deduped)
    # proper-prefix substrate of all texts. sequence() needs end >= 1,
    # hence the length >= 2 guard (1-char texts emit no proper prefix).
    pfx = (
        texts.filter(F.length("text") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, least({PREFIX_KEY_LEN - 1}, "
                    "length(text) - 1)), i -> substring(text, 1, i))"
                )
            ).alias("text")
        )
        .distinct()
    )
    flagged_short = (
        texts.filter(F.length("text") < PREFIX_KEY_LEN).join(pfx, "text", "left_semi")
    )

    flagged = flagged_long.unionByName(flagged_short)
    return docs.join(flagged, "text").select(
        "doc_id", F.length("text").cast("bigint").alias("pfx_len")
    )


# ---------------------------------------------------------------------------
# q158 — n-gram novelty scoring: for each document, what fraction of its
# distinct trigrams appears in NO earlier document (doc_id order = ingest
# order)? The redundancy-curation signal between exact dedup (all or
# nothing) and near-dup similarity (pairwise): a doc that re-treads
# earlier content scores near 0 and can be down-sampled even when no
# single pair crosses a similarity threshold. Two aggregates over the
# hashed-shingle substrate (first-seen owner per shingle = min doc_id,
# then per-doc counts) — both partial-agg shuffles on the 8-byte shingle
# hash; no windows, no pairwise joins at all, so cost is linear in
# corpus shingle volume regardless of how redundant the corpus is.

@register(
    "q158_ngram_novelty",
    oracle=f"""
    WITH {_DUCK_HASHED_SHINGLES},
    first_seen AS (SELECT sh, min(doc_id) AS owner FROM sh GROUP BY sh),
    per_doc AS (
      SELECT s.doc_id,
             count(*) AS n_shingles,
             sum(CASE WHEN f.owner = s.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM sh s JOIN first_seen f USING (sh)
      GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel AS DOUBLE) / n_shingles AS novelty
    FROM per_doc
    """,
    doc="n-gram novelty: fraction of a doc's distinct trigrams first "
    "seen in it (ingest order); two shingle-hash aggregates, linear "
    "cost, no pairwise work",
    tags=("dedup", "llm", "text"),
)
def q158_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _hashed_shingles(spark, sf_dir)
    first_seen = sh.groupBy("sh").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        sh.join(first_seen, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("owner") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_shingles").cast("bigint"),
        F.col("n_novel").cast("bigint"),
        (F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# q171 — fuzzy vocabulary matching (blocked Levenshtein join): the
# entity-resolution primitive behind catalog reconciliation and
# misspelling detection.  The scalable shape is the point: NEVER fuzzy-
# join rows — collapse to the DISTINCT-value vocabulary first (64 names
# here; bounded by the attribute's domain, not the table), fuzzy-join
# the vocabulary under a length-band block (edit distance ≤ k implies
# length difference ≤ k, so the block is lossless), then attach member
# counts from the corpus-sized aggregate.  Corpus work is one groupBy;
# the O(V²) self-join is over the broadcast-sized vocabulary.
# Levenshtein is exact integer edit distance in both engines.

FUZZY_MAX_DIST = 3


@register(
    "q171_fuzzy_name_match",
    oracle=f"""
    WITH counts AS (
      SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           CAST(a.n_parts AS BIGINT) AS n_parts_a,
           CAST(b.n_parts AS BIGINT) AS n_parts_b
    FROM counts a JOIN counts b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_MAX_DIST}
     AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    """,
    doc=f"blocked fuzzy vocabulary join: distinct-name collapse -> "
    f"length-band block -> levenshtein <= {FUZZY_MAX_DIST}; O(V^2) only "
    "over the bounded vocabulary, corpus work is one groupBy",
    tags=("dedup", "J1", "A4"),
)
def q171_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, ["part"])["part"]
    counts = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    a = counts.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.length("p_name").alias("blk"),
    )
    # the length band is realized as an EQUI-join key, not a theta
    # predicate: the probe side emits one row per length offset in
    # [-k, +k], so candidates meet through a hash join on the length
    # bucket (each pair meets exactly once, at offset len_a - len_b) and
    # the O(V²) nested loop never materializes even if the vocabulary
    # regenerates as high-cardinality.  levenshtein <= k then decides.
    b = counts.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b")
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.length("name_b") - FUZZY_MAX_DIST,
                F.length("name_b") + FUZZY_MAX_DIST,
            )
        ).alias("blk"),
    )
    joined = a.join(F.broadcast(b), "blk").filter(
        (F.col("name_a") < F.col("name_b"))
        & (F.levenshtein("name_a", "name_b") <= FUZZY_MAX_DIST)
    )
    return joined.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("bigint").alias("edit_dist"),
        F.col("n_parts_a").cast("bigint"),
        F.col("n_parts_b").cast("bigint"),
    )


# ---------------------------------------------------------------------------
# q205 — blocking quality audit: does the LSH candidate generator (q24)
# actually RECOVER the true near-duplicate pairs (q23 at jaccard ≥
# 0.5)?  The dedup-pipeline twin of q201's ANN recall gate: candidate
# recall (missed true pairs never get deduplicated — silent corpus
# contamination) and candidate precision (how much of the bucket-join
# fan-out is wasted verification work), both as exact integer counts +
# micro-unit ratios.  The oracle nests both queries' own DuckDB oracles
# — one source of truth per pipeline.
#
# Scale shape: the pair frames are the audited pipelines' outputs
# (bucket-bounded, never O(n²)); the audit itself is one pair-keyed
# left join + two single-row aggregates folded with a broadcast.

Q205_TRUTH_JACCARD = 0.5


def _q205_oracle() -> str:
    from .registry import _REGISTRY

    q23 = _REGISTRY["q23_ngram_jaccard_pairs"].oracle
    q24 = _REGISTRY["q24_minhash_lsh_pairs"].oracle
    return f"""
    WITH truth AS (
      SELECT doc_a, doc_b FROM ({q23}) t WHERE jaccard >= {Q205_TRUTH_JACCARD}
    ),
    cand AS (SELECT doc_a, doc_b FROM ({q24}) c),
    hits AS (
      SELECT count(*) AS n_truth, count(c.doc_a) AS n_hit
      FROM truth t LEFT JOIN cand c
        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ),
    cn AS (SELECT count(*) AS n_candidates FROM cand)
    SELECT CAST(h.n_truth AS BIGINT) AS n_truth,
           CAST(cn.n_candidates AS BIGINT) AS n_candidates,
           CAST(h.n_hit AS BIGINT) AS n_hit,
           CAST(h.n_truth - h.n_hit AS BIGINT) AS n_missed,
           CAST(CASE WHEN h.n_truth = 0 THEN 0
                     ELSE h.n_hit * 1000000 // h.n_truth END AS BIGINT)
             AS recall_micros,
           CAST(CASE WHEN cn.n_candidates = 0 THEN 0
                     ELSE h.n_hit * 1000000 // cn.n_candidates END AS BIGINT)
             AS precision_micros
    FROM hits h, cn
    """


@register(
    "q205_blocking_quality",
    oracle=_q205_oracle(),
    doc=f"LSH blocking recall/precision vs exact-Jaccard truth pairs "
    f"(jaccard >= {Q205_TRUTH_JACCARD}); integer hit counts + micro "
    "ratios — the dedup-pipeline twin of q201's ANN recall gate",
    tags=("dedup", "llm", "quality"),
)
def q205_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = (
        q23_ngram_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= Q205_TRUTH_JACCARD)
        .select("doc_a", "doc_b")
    )
    cand = q24_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    hits = truth.join(F.broadcast(cand), ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_truth"), F.count("hit").alias("n_hit")
    )
    cn = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return hits.crossJoin(F.broadcast(cn)).select(
        F.col("n_truth").cast("bigint"),
        F.col("n_candidates").cast("bigint"),
        F.col("n_hit").cast("bigint"),
        (F.col("n_truth") - F.col("n_hit")).cast("bigint").alias("n_missed"),
        # CASE-guarded like the oracle: at zero truth/candidates DuckDB's
        # `//` raises while Spark's `div` returns NULL — the zero regime
        # is exactly when this quality gate must still produce a row
        F.expr("CASE WHEN n_truth = 0 THEN 0 "
               "ELSE n_hit * 1000000 div n_truth END")
        .cast("bigint")
        .alias("recall_micros"),
        F.expr("CASE WHEN n_candidates = 0 THEN 0 "
               "ELSE n_hit * 1000000 div n_candidates END")
        .cast("bigint")
        .alias("precision_micros"),
    )


# ---------------------------------------------------------------------------
# q206 — position-level substring duplication rate (the Lee et al. 2022
# "Deduplicating Training Data" audit, distinct from q23's DOC-pair
# Jaccard): what fraction of each document's character positions sit
# inside a 16-char gram that also occurs in ANOTHER document?  Doc-pair
# metrics miss boilerplate that is pasted across many documents without
# making any single pair similar; position-level duplication catches it
# and is the number substring-dedup decisions key off.
#
# Grams are sampled on a stride-8 grid (2× coverage bound per position)
# and hashed to 60-bit ints BEFORE the shuffle — the exchange carries 8
# bytes per gram, and the df aggregate counts DISTINCT docs per gram
# (within-doc repeats don't fake cross-doc duplication).  Shape:
# explode → distinct(doc, gram) [map-side combine] → gram-keyed count →
# join back on gram → doc-keyed agg.  All key-partitioned; no pair
# join, no window.

Q206_K = 16  # gram length (chars)
Q206_STRIDE = 8


@register(
    "q206_substring_dup_rate",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(range(1, length(text) - {Q206_K} + 2, {Q206_STRIDE})) AS p
      FROM documents WHERE length(text) >= {Q206_K}
    ),
    g AS (
      SELECT doc_id,
             {_duck_md5_int(f"substr(d.text, CAST(pos.p AS INT), {Q206_K})")} AS h
      FROM pos JOIN documents d USING (doc_id)
    ),
    dg AS (SELECT DISTINCT doc_id, h FROM g),
    df AS (SELECT h, count(*) AS n_docs FROM dg GROUP BY h),
    per AS (
      SELECT g.doc_id,
             count(*) AS n_grams,
             count(*) FILTER (df.n_docs >= 2) AS n_dup_grams
      FROM g JOIN df ON df.h = g.h
      GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_dup_grams AS BIGINT) AS n_dup_grams,
           CAST(n_dup_grams * 1000000 // n_grams AS BIGINT) AS dup_micros
    FROM per
    """,
    doc=f"position-level {Q206_K}-char gram duplication rate (stride "
    f"{Q206_STRIDE}): fraction of sampled positions whose gram occurs in "
    "another doc; hashed-gram df join, distinct-doc counting — the "
    "substring-dedup audit doc-pair Jaccard cannot see",
    tags=("dedup", "llm", "text"),
)
def q206_substring_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = scale_out(
        load_tables(spark, sf_dir, ["documents"])["documents"].filter(
            F.length("text") >= Q206_K
        )
    )
    # positions exploded first, gram built row-wise: codegen-resident,
    # same hot-path shape note as _hashed_shingles
    g = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - Q206_K + 1, F.lit(Q206_STRIDE))
        ).alias("p"),
        "text",
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.expr(f"substr(text, p, {Q206_K})")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    df_ = (
        g.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per = (
        g.join(df_, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_dup_grams"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_grams").cast("bigint"),
        F.col("n_dup_grams").cast("bigint"),
        F.expr("n_dup_grams * 1000000 div n_grams").cast("bigint").alias("dup_micros"),
    )


# ---------------------------------------------------------------------------
# q215 — cross-source overlap matrix: how much shingle mass do source
# pairs share?  The corpus-curation question behind it: when two feeds
# crawl overlapping sites (or one republishes the other), their shingle
# sets overlap far above the random-text baseline, and dedup budget /
# source weights should account for it BEFORE training mixes are drawn.
# The deliverable is the full source-pair matrix with a containment
# score (shared / smaller side) — the same containment CCNet computes
# between dumps.
#
# Scale shape: the substrate is distinct (source, sh) — within-source
# repeats collapse BEFORE the self-join, so a source repeating one
# shingle 10⁹ times ships it once.  A source-count cap (the source-level
# analog of q23's doc-frequency cap) drops shingles present in nearly
# every source — corpus-wide boilerplate carries no source-affinity
# signal and would fan out to every pair.  The self-join is keyed on
# the 8-byte shingle
# hash and each surviving shingle contributes at most C(n_sources, 2)
# pairs — output is n_sources², tiny at any data scale, because
# sources (feeds, dumps, crawls) number in the dozens even at 100 TB.

Q215_MAX_SHINGLE_SOURCES = 16  # drop shingles present in > this many sources


@register(
    "q215_source_overlap_matrix",
    oracle=f"""
    WITH {_DUCK_HASHED_SHINGLES},
    ssh AS (
      SELECT DISTINCT d.source, s.sh
      FROM sh s JOIN documents d USING (doc_id)
    ),
    capped AS (
      SELECT source, sh FROM (
        SELECT source, sh, count(*) OVER (PARTITION BY sh) AS nsrc FROM ssh
      ) WHERE nsrc <= {Q215_MAX_SHINGLE_SOURCES}
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM capped GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM capped a JOIN capped b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.shared,
           sa.n AS n_a, sb.n AS n_b,
           i.shared * 1000000 // least(sa.n, sb.n) AS containment_micros
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
    doc="cross-source shingle-overlap matrix with containment score; "
    "distinct-before-join substrate, source-count cap on ubiquitous "
    "shingles, output bounded by n_sources^2",
    tags=("dedup", "llm", "quality"),
)
def q215_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # (source, sh) feeds both the source-count branch and the capped
    # join below — materialize so the shingle+join pipeline runs once
    ssh = materialize(
        _hashed_shingles(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "sh")
        .distinct(),
        "q215_ssh",
    )
    nsrc = ssh.groupBy("sh").agg(F.count(F.lit(1)).alias("nsrc"))
    # the capped substrate feeds THREE consumers (sizes + both self-join
    # sides); materialize once so the shingle pipeline runs once, not 3x
    capped = materialize(
        ssh.join(nsrc, "sh")
        .filter(F.col("nsrc") <= Q215_MAX_SHINGLE_SOURCES)
        .select("source", "sh"),
        "q215_capped",
    )
    sizes = capped.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    # sizes is n_sources rows — broadcast both probe-side joins
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared",
            "n_a",
            "n_b",
            F.expr("shared * 1000000 div least(n_a, n_b)")
            .cast("bigint")
            .alias("containment_micros"),
        )
    )


# ---------------------------------------------------------------------------
# q228 — k-core of the near-dup candidate graph: peel vertices of
# degree < K until (bounded) fixpoint; what survives is the dense
# heart of each duplication family — the "template farms" (boilerplate
# mills, mirror clusters) that near-dup PAIR counts understate and
# connected components overstate (a long chain is one component but
# has no core). Curation uses the core as the aggressive-dedup target
# while chain-only members get the benefit of the doubt.
#
# Determinism: both engines peel EXACTLY Q228_ROUNDS rounds from the
# same LSH pair set (the one _duck_minhash_bands_cte definition), so
# the bound cannot silently diverge; the fixture reaches fixpoint
# within the bound (the oracle would disagree otherwise — deg counts
# keep shifting until the peel settles).
#
# Scale shape: see operators/graph.py:k_core — per round one
# map-side-combinable degree agg + two key-partitioned hash joins of a
# shrinking edge set, each round durably materialized.

Q228_K = 2
Q228_ROUNDS = 4


def _duck_kcore_oracle() -> str:
    peel = []
    for r in range(Q228_ROUNDS):
        peel.append(
            f"""d{r} AS MATERIALIZED (SELECT u, count(*) AS c FROM e{r} GROUP BY u),
    s{r} AS MATERIALIZED (SELECT u FROM d{r} WHERE c >= {Q228_K}),
    e{r + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r} e
      JOIN s{r} a ON e.u = a.u JOIN s{r} b ON e.v = b.u
    )"""
        )
    chain = ",\n    ".join(peel)
    return f"""
    WITH {_duck_minhash_bands_cte()},
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    e0 AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    {chain}
    SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{Q228_ROUNDS} GROUP BY u
    """


@register(
    "q228_neardup_kcore",
    oracle=_duck_kcore_oracle(),
    doc=f"k-core (k={Q228_K}, {Q228_ROUNDS} peel rounds) of the "
    "MinHash-LSH near-dup graph: dense duplication families vs "
    "chain-only members; bounded-round peel with per-round durable "
    "materialization",
    tags=("dedup", "llm", "graph"),
)
def q228_neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core

    pairs = q24_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    core = k_core(pairs, Q228_K, Q228_ROUNDS, scratch_prefix="q228_kcore")
    return core.select(F.col("u").alias("doc_id"), "core_deg")


# ---------------------------------------------------------------------------
# q247 — soft deduplication weights (He et al. 2024, "SoftDedup:
# Improving Data Efficiency in Large Language Model Pretraining via
# Soft De-duplication"): instead of DROPPING duplicate-group members
# (q72's is_keeper), every member keeps a sampling weight INVERSELY
# proportional to its group's size, so the group as a whole contributes
# one document's worth of expected training signal and no rare text is
# lost to an over-aggressive edge.  The weight ships as the exact
# integer pair (1, cluster_size) — downstream samplers multiply exact
# rationals (q143's convention) and never see synthesized floats; the
# effective-token column is the integer-floor budget accounting a
# mixture planner (q81/q152/q248) consumes.
#
# Scale shape: q72's cluster substrate (exact-hash edges + LSH band
# edges -> CC to fixpoint) IS the cost; this adds one partitioned
# count-window over cluster_id (group-sized partitions, skew bounded by
# the duplication factor) and one doc_id equi-join against the token
# counts — both output-sized.


def _q247_oracle() -> str:
    from .registry import _REGISTRY

    q72 = _REGISTRY["q72_dedup_clusters"].oracle
    return f"""
    WITH toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT c.doc_id, c.cluster_id,
           CAST(c.cluster_size AS BIGINT) AS cluster_size,
           t.n_tokens,
           CAST(1 AS BIGINT) AS weight_num,
           CAST(c.cluster_size AS BIGINT) AS weight_den,
           t.n_tokens // c.cluster_size AS effective_tokens
    FROM ({q72}) c JOIN toks t USING (doc_id)
    """


@register(
    "q247_soft_dedup_weights",
    oracle=_q247_oracle(),
    doc="SoftDedup: per-doc sampling weight 1/cluster_size over the "
    "exact+LSH dedup clusters (reweight, don't remove); exact integer "
    "weight pairs + floor effective-token accounting",
    tags=("dedup", "llm", "sampling", "graph"),
)
def q247_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    cc = q72_dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return cc.join(toks, "doc_id").select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_tokens",
        F.lit(1).cast("bigint").alias("weight_num"),
        F.col("cluster_size").cast("bigint").alias("weight_den"),
        F.expr("n_tokens div cluster_size").alias("effective_tokens"),
    )


# ---------------------------------------------------------------------------
# q250 — dedup-adjusted source mixing: mixture weights computed from
# EFFECTIVE (duplication-discounted) token counts instead of raw ones —
# the accounting The Pile / Dolma-style corpus reports use, where a
# source's weight reflects its unique contribution, not its crawl
# volume.  A source that is 5x-duplicated internally contributes ~1/5
# of its raw tokens to the mixture denominator; comparing raw_ppm vs
# effective_ppm per source is the "how much was this source inflated
# by duplication" table.  Composes q247's SoftDedup weights (which
# compose q72's exact+LSH clusters) — weights stay exact integers,
# mixture shares ship in ppm (integer micro-fractions).
#
# Scale shape: q247's cluster substrate is the cost; this adds one
# doc_id equi-join to recover the source column and one partial-agg
# groupBy on the tiny source key.  ppm arithmetic is int64-safe to
# ~9e12 corpus tokens (q248's bound note).


def _q250_oracle() -> str:
    from .registry import _REGISTRY

    q247 = _REGISTRY["q247_soft_dedup_weights"].oracle
    return f"""
    WITH src AS (SELECT doc_id, source FROM documents),
    w AS (
      SELECT s.source, c.n_tokens, c.effective_tokens
      FROM ({q247}) c JOIN src s USING (doc_id)
    ),
    per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
             CAST(sum(effective_tokens) AS BIGINT) AS effective_tokens
      FROM w GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(raw_tokens) AS BIGINT) AS raw_total,
             CAST(sum(effective_tokens) AS BIGINT) AS eff_total
      FROM per_src
    )
    SELECT p.source, p.n_docs, p.raw_tokens, p.effective_tokens,
           (p.raw_tokens * 1000000) // t.raw_total AS raw_ppm,
           CASE WHEN t.eff_total > 0
                THEN (p.effective_tokens * 1000000) // t.eff_total
           END AS effective_ppm,
           CASE WHEN p.effective_tokens > 0
                THEN CAST(p.raw_tokens AS DOUBLE) / p.effective_tokens
           END AS inflation
    FROM per_src p CROSS JOIN tot t
    """


@register(
    "q250_dedup_adjusted_mix",
    oracle=_q250_oracle(),
    doc="mixture weights from duplication-discounted token counts: per-"
    "source raw vs effective ppm shares over q247's SoftDedup weights; "
    "the 'how inflated is this source' curation table",
    tags=("dedup", "llm", "sampling", "graph"),
)
def q250_dedup_adjusted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    w = q247_soft_dedup_weights(spark, sf_dir).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    # per_src feeds the totals AND the final projection: materialize the
    # |sources|-row aggregate so the q72/q247 cluster pipeline above it
    # runs once, not per branch (the scratch write is tens of rows)
    per_src = materialize(
        w.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("raw_tokens"),
            F.sum("effective_tokens").cast("bigint").alias("effective_tokens"),
        ),
        "q250_per_src",
    )
    tot = per_src.agg(
        F.sum("raw_tokens").cast("bigint").alias("raw_total"),
        F.sum("effective_tokens").cast("bigint").alias("eff_total"),
    )
    # effective_tokens is a FLOOR division (n_tokens div cluster_size),
    # so a source whose docs all sit in clusters larger than their token
    # counts legitimately floors to 0 — guard both divisions with NULL
    # (matching the oracle's CASE) instead of throwing DIVIDE_BY_ZERO
    # under ANSI mode.  raw_total needs no guard: split() yields >= 1
    # token per doc, so raw_total >= n_docs >= 1 whenever rows exist.
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "raw_tokens",
        "effective_tokens",
        F.expr("(raw_tokens * 1000000) div raw_total").alias("raw_ppm"),
        F.expr(
            "CASE WHEN eff_total > 0"
            " THEN (effective_tokens * 1000000) div eff_total END"
        ).alias("effective_ppm"),
        F.when(
            F.col("effective_tokens") > 0,
            F.col("raw_tokens").cast("double") / F.col("effective_tokens"),
        ).alias("inflation"),
    )


# ---------------------------------------------------------------------------
# q255 — near-dup-aware train/val/test split: assign the WHOLE dedup
# cluster (q72's exact+LSH connected components) to one split, so no
# near-duplicate pair can straddle train and eval.  q98 closes the
# exact-dup leak by hashing normalized text; paraphrase-level leaks
# survive it — the LSH edge set is exactly the extra knowledge this
# split uses (the leakage q105 AUDITS, prevented at construction).
# Split draw = md5('split:' || cluster_id) % 100, one draw per cluster,
# inherited by every member.
#
# Scale shape: q72's cluster substrate is the cost; the split itself is
# a map-side expression over the membership table plus one tiny
# summary-friendly projection.  No new exchanges beyond q72.

Q255_MOD = 100
Q255_TRAIN_LT = 80  # 80/10/10
Q255_VAL_LT = 90


def _q255_oracle() -> str:
    from .registry import _REGISTRY

    q72 = _REGISTRY["q72_dedup_clusters"].oracle
    draw = _duck_md5_int("'split:' || CAST(cluster_id AS VARCHAR)")
    return f"""
    SELECT doc_id, cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CASE WHEN {draw} % {Q255_MOD} < {Q255_TRAIN_LT} THEN 'train'
                WHEN {draw} % {Q255_MOD} < {Q255_VAL_LT} THEN 'val'
                ELSE 'test' END AS split
    FROM ({q72}) c
    """


@register(
    "q255_cluster_safe_split",
    oracle=_q255_oracle(),
    doc="near-dup-aware train/val/test split: one hash draw per dedup "
    "cluster, inherited by every member — no LSH-near pair straddles "
    "splits (constructive twin of q105's leakage audit)",
    tags=("dedup", "llm", "corpus", "sampling", "graph"),
)
def q255_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = q72_dedup_clusters(spark, sf_dir)
    draw = (
        _md5_int(F.concat(F.lit("split:"), F.col("cluster_id").cast("string")))
        % Q255_MOD
    )
    return cc.select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.when(draw < Q255_TRAIN_LT, "train")
        .when(draw < Q255_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# q256 — dedup cluster report: the size-distribution table every corpus
# curation run publishes before committing a dedup policy (how much of
# the corpus sits in singletons vs mega-clusters decides whether
# keep-one, SoftDedup weights (q247), or manual review is the right
# treatment — cf. the cluster-size histograms in the C4/RefinedWeb/
# Dolma dedup write-ups).  Buckets are log2(cluster_size) so the table
# stays ~30 rows at ANY corpus size; all columns are exact integers
# (ppm shares, not floats).
#
# Scale shape: composes q72's MEMOIZED membership table (one scratch-
# parquet scan — the substrate is built once per session, r11), then
# one (cluster_id) partial agg to collapse members and one ~30-key agg
# over the log2 buckets.  Nothing here re-touches documents.


def _q256_oracle() -> str:
    from .registry import _REGISTRY

    q72 = _REGISTRY["q72_dedup_clusters"].oracle
    return f"""
    WITH cl AS (
      SELECT cluster_id, CAST(max(cluster_size) AS BIGINT) AS sz
      FROM ({q72}) GROUP BY cluster_id
    ),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n_total FROM cl)
    SELECT length(bin(sz)) - 1 AS size_log2,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_redundant,
           CAST(sum(sz) * 1000000 // t.n_total AS BIGINT) AS doc_ppm
    FROM cl CROSS JOIN tot t
    GROUP BY size_log2, t.n_total
    """


@register(
    "q256_dedup_cluster_report",
    oracle=_q256_oracle(),
    doc="dedup cluster-size report over q72's memoized membership: "
    "log2-bucketed cluster histogram with exact integer doc shares and "
    "redundant-doc counts — the publish-before-dedup curation table",
    tags=("dedup", "llm", "graph"),
)
def q256_dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = (
        q72_dedup_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.max("cluster_size").cast("bigint").alias("sz"))
    )
    tot = cl.agg(F.sum("sz").cast("bigint").alias("n_total"))
    return (
        cl.crossJoin(F.broadcast(tot))
        .groupBy(
            (F.length(F.bin(F.col("sz"))) - 1).cast("bigint").alias("size_log2"),
            "n_total",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("n_redundant"),
        )
        .select(
            "size_log2",
            "n_clusters",
            "n_docs",
            "n_redundant",
            F.expr("(n_docs * 1000000) div n_total").alias("doc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q257 — MinHash estimator calibration: for every LSH candidate pair,
# compare the SKETCH's Jaccard estimate (matching-minhash fraction over
# the 16 permutations) against the EXACT shingle Jaccard, grouped by
# estimate bucket.  This is the standard "trust the sketch?" audit
# (Broder 1997's estimator is unbiased with sd ~ 1/sqrt(k); k=16 is
# coarse, WHICH IS THE POINT — the table shows the coarseness before a
# threshold is picked from the estimate alone) and the calibration
# evidence behind q24/q61's banding constants.
#
# Exactness: per-pair exact Jaccard ships as ppm via integer floor-div
# (shared / (n_a + n_b - shared)); the bucket mean is sum(ppm) div n —
# bit-identical in both engines.  Candidate pairs have >= 1 shared
# band, so both docs have shingles and the union is never 0.
#
# Scale shape: pairs and shingles are both MEMOIZED substrates (one
# scratch scan each); the signature join is pair-sized x 16 integer
# equality checks, the shared-shingle count is the same output-sized
# probe q246 uses.  Nothing corpus-sized shuffles.


def _q257_oracle() -> str:
    match16 = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return f"""
    WITH {_duck_minhash_bands_cte()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT p.u, p.v, CAST({match16} AS BIGINT) AS est_matches
      FROM pairs p JOIN sigs a ON a.doc_id = p.u JOIN sigs b ON b.doc_id = p.v
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT p.u, p.v, CAST(count(*) AS BIGINT) AS shared
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.u
      JOIN sh sb ON sb.doc_id = p.v AND sb.sh = sa.sh
      GROUP BY p.u, p.v
    ),
    px AS (
      SELECT e.est_matches,
             coalesce(h.shared, 0) * 1000000
               // (za.n + zb.n - coalesce(h.shared, 0)) AS exact_ppm
      FROM est e
      LEFT JOIN shared h ON h.u = e.u AND h.v = e.v
      JOIN sizes za ON za.doc_id = e.u
      JOIN sizes zb ON zb.doc_id = e.v
    )
    SELECT est_matches,
           est_matches * 1000000 // 16 AS est_ppm,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(exact_ppm) AS BIGINT) // count(*) AS mean_exact_ppm,
           CAST(min(exact_ppm) AS BIGINT) AS min_exact_ppm,
           CAST(max(exact_ppm) AS BIGINT) AS max_exact_ppm
    FROM px GROUP BY est_matches
    """


@register(
    "q257_minhash_calibration",
    oracle=_q257_oracle(),
    doc="MinHash-vs-exact Jaccard calibration over the LSH candidate "
    "pairs: matching-signature estimate bucket -> exact-Jaccard ppm "
    "stats, all integer arithmetic; the trust-the-sketch audit behind "
    "the banding constants",
    tags=("dedup", "llm", "sketch"),
)
def q257_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    xs = _hashed_shingles(spark, sf_dir).select(
        "doc_id", (F.col("sh") % P).alias("x")
    )
    sigs = xs.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % P).alias(f"s{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )
    pairs = q24_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    sa = sigs.select(F.col("doc_id").alias("u"), *[F.col(f"s{i}").alias(f"a{i}") for i in range(16)])
    sb = sigs.select(F.col("doc_id").alias("v"), *[F.col(f"s{i}").alias(f"b{i}") for i in range(16)])
    match16 = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(16)
    )
    est = pairs.join(sa, "u").join(sb, "v").select(
        "u", "v", match16.cast("bigint").alias("est_matches")
    )
    sh = _hashed_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    shared = (
        pairs.join(sh.select(F.col("doc_id").alias("u"), "sh"), "u")
        .join(sh.select(F.col("doc_id").alias("v"), "sh"), ["v", "sh"])
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    za = F.broadcast(sizes.select(F.col("doc_id").alias("u"), F.col("n").alias("n_a")))
    zb = F.broadcast(sizes.select(F.col("doc_id").alias("v"), F.col("n").alias("n_b")))
    px = (
        est.join(F.broadcast(shared), ["u", "v"], "left")
        .join(za, "u")
        .join(zb, "v")
        .select(
            "est_matches",
            F.expr(
                "(coalesce(shared, 0) * 1000000)"
                " div (n_a + n_b - coalesce(shared, 0))"
            ).alias("exact_ppm"),
        )
    )
    return (
        px.groupBy("est_matches")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("exact_ppm").cast("bigint").alias("sum_exact_ppm"),
            F.min("exact_ppm").cast("bigint").alias("min_exact_ppm"),
            F.max("exact_ppm").cast("bigint").alias("max_exact_ppm"),
        )
        .select(
            "est_matches",
            F.expr("(est_matches * 1000000) div 16").alias("est_ppm"),
            "n_pairs",
            F.expr("sum_exact_ppm div n_pairs").alias("mean_exact_ppm"),
            "min_exact_ppm",
            "max_exact_ppm",
        )
    )


# ---------------------------------------------------------------------------
# q259 — near-dup threshold sensitivity sweep: before a pipeline commits
# to a Jaccard cut it measures what each candidate threshold would DO —
# how many candidate pairs pass and how many documents the drop-larger
# rule (q61's convention) would flag — across a dial of thresholds in
# ONE pass over q23's pair universe.  This is the table that turns "we
# dedup at 0.5" from folklore into a measured choice (the ccnet /
# RefinedWeb ablations publish exactly this curve).
#
# Exactness: the threshold predicate is the cross-multiplied integer
# form 10^6 * shared >= t_ppm * (na + nb - shared) — no float ever
# enters the comparison, so both engines agree bit-for-bit even when a
# pair sits exactly ON a threshold.
#
# Scale shape: the pair components ride q23's materialized df-capped
# substrate (shared helper _jaccard_pair_components); the sweep is an
# output-sized explode (|pairs| x |thresholds|) followed by one
# (threshold, doc) distinct + tiny-key aggregate.  Nothing re-touches
# the corpus.

JACCARD_SWEEP_PPM = (300_000, 400_000, 500_000, 600_000, 700_000, 800_000)


def _q259_oracle() -> str:
    ts = ", ".join(str(t) for t in JACCARD_SWEEP_PPM)
    return f"""
    WITH {_DUCK_HASHED_SHINGLES},
    shf AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh
      ) WHERE df <= {_DUCK_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    comp AS (
      SELECT i.doc_a, i.doc_b, i.shared, sa.n AS na, sb.n AS nb
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    ),
    passing AS (
      SELECT t.t_ppm, c.doc_a, c.doc_b
      FROM comp c CROSS JOIN (SELECT unnest([{ts}]) AS t_ppm) t
      WHERE 1000000 * c.shared >= t.t_ppm * (c.na + c.nb - c.shared)
    )
    SELECT CAST(t_ppm AS BIGINT) AS threshold_ppm,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_flagged
    FROM passing
    GROUP BY 1
    """


@register(
    "q259_jaccard_threshold_sweep",
    oracle=_q259_oracle(),
    doc="near-dup threshold sensitivity: pairs passing and docs flagged "
    "(drop-larger rule) per candidate Jaccard cut, exact cross-"
    "multiplied integer predicate, one output-sized pass over q23's "
    "candidate pair universe",
    tags=("dedup", "llm"),
)
def q259_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _jaccard_pair_components(spark, sf_dir)
    passing = comp.withColumn(
        "threshold_ppm",
        F.explode(F.array(*[F.lit(t) for t in JACCARD_SWEEP_PPM])),
    ).filter(
        F.lit(1_000_000) * F.col("shared")
        >= F.col("threshold_ppm") * (F.col("na") + F.col("nb") - F.col("shared"))
    )
    return passing.groupBy("threshold_ppm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_docs_flagged"),
    ).select(
        F.col("threshold_ppm").cast("bigint").alias("threshold_ppm"),
        "n_pairs",
        "n_docs_flagged",
    )
