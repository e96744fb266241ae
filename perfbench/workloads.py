"""The benchmark's workloads: which registry queries each one runs, which
set-up it needs, and how many timed passes a run makes at least.  Queries
are named by their registry prefix (``q01`` is ``q01_pricing_summary``)."""

from __future__ import annotations

WORKLOADS = {
    # Spark SQL scan/join/aggregate over the star schema plus window and
    # event queries: the planning and scheduling floor.  No materialize,
    # graph, write, streaming or Python-worker work, so it is the bypass
    # workload for every layer but Spark itself.  Its queries are cheap,
    # so a run makes three passes and reports their median: the first pass
    # after the oracle check is still the slowest in most runs.
    "olap_star": {
        "queries": "q01 q02 q53 q162 q265 q271 q59 q91".split(),
        "warm": ("jvm",),
        "passes": 3,
    },
    # The reference's pipelines and the LLM dedup operators: FHIR cohort
    # SQL over silver views; the ODS import's versioned, merge and swap
    # writes; the ods_zip Python DataSource; two streaming drains; Jaccard
    # pairs, k-core and connected components with one materialize per
    # round, and q235's numpy kernel, served from memo_substrate substrates
    # built in set-up.  Per-query fixed costs dominate.
    "etl_dedup": {
        "queries": "q11 q208 q213 q184 q75 q84 q23 q228 q235".split(),
        "warm": ("jvm", "python", "datasource", "streaming", "substrates"),
        "passes": 1,
    },
}

#: substrates (plans/substrates.py names) the dedup queries serve from
SUBSTRATES = ("hashed_shingles", "q24_lsh_pairs", "kmeans_xq")
