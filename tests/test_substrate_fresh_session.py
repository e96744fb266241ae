"""Fresh-session substrate-order parity (r12, the r11 verdict's ask #5).

Every memoized-substrate consumer must produce the SAME result when it
is the FIRST query of a brand-new session (so it triggers the substrate
build itself) as it does in an in-order session where some other query
built the substrate earlier.  r11 hand-verified this contract when the
memoization landed; this test machine-enforces it: each consumer runs
in a SUBPROCESS with a vanilla SparkSession (the driver's environment —
no tuned factory) at sf0.001, and the normalized row set is compared
against the shared in-process session's result, which has built the
substrates in whatever order the surrounding test run happened to use.

Substrates covered (scratch.memo_substrate call sites):
  hashed_shingles        dedup_queries.py   -> q23, q24, q61, ...
  q24_lsh_pairs          dedup_queries.py   -> q72, q95, q228, q238, ...
  q72_membership         dedup_queries.py   -> q247, q250, q255, q256
  semdedup_coarse_assign similarity_queries -> q231, q246
  semdedup_coarse_pairs  similarity_queries -> q246, q260
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from data_engineering_examples_spark.plans import all_specs

from .conftest import REPO_ROOT, SF_SMOKE

#: One consumer per distinct (substrate, consumer-shape) edge: direct
#: builders, cross-module composers, and the deepest chains (q256 reads
#: q72's membership which reads q24's pairs which reads the shingles).
CONSUMERS = [
    "q23_ngram_jaccard_pairs",
    "q24_minhash_lsh_pairs",
    "q72_dedup_clusters",
    "q231_semantic_dedup",
    "q246_paraphrase_candidates",
    "q247_soft_dedup_weights",
    "q250_dedup_adjusted_mix",
    "q255_cluster_safe_split",
    "q256_dedup_cluster_report",
    "q257_minhash_calibration",
    "q260_semdedup_threshold_sweep",
    # image_dhash substrate (multimodal_queries._phash_pairs, r12):
    # the direct pair finder, the CC composer, and the caption-Jaccard
    # cross-modality composer
    "q224_image_phash_neardup",
    "q226_canonical_media",
    "q264_pair_dedup_verdict",
    # kmeans_xq substrate (similarity_queries._xq_substrate, r13): the
    # quantized per-dim embedding fact shared by five exact-integer
    # pipelines — cover the Lloyd consumer, the PQ-code consumer (which
    # derives its subspace projection from the shared dims), and the
    # learned-SemDeDup composer (deepest chain: substrate -> 2 Lloyd
    # rounds -> pair closure)
    "q94_kmeans_refine",
    "q101_pq_codes",
    "q235_semantic_dedup_learned",
    # lsh_bands substrate (similarity_queries._lsh_bands_substrate, r13):
    # the probe server and the near-dup miner; q201 composes q32 so the
    # recall audit rides the same coverage
    "q32_ann_lsh_topk",
    "q49_embedding_neardup",
    # r14: q238 serves its canonical-subset bands from the same index
    # (semi-join on the keeper set)
    "q238_canonical_neardup",
    # ivf_ranked substrate (similarity_queries._ivf_ranked_substrate,
    # r13): the serve path and the label-filtered search
    "q50_ivf_topk",
    "q217_filtered_ann",
]

_CHILD = """
import sys, json
sys.path.insert(0, sys.argv[3])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from data_engineering_examples_spark.plans import all_specs

name, sf = sys.argv[1], sys.argv[2]
df = all_specs()[name].fn(spark, sf)
cols = sorted(df.columns)
rows = sorted(repr(tuple(repr(r[c]) for c in cols)) for r in df.collect())
print("RESULT::" + json.dumps({"cols": cols, "rows": rows}))
"""


def _normalize(df):
    cols = sorted(df.columns)
    return cols, sorted(repr(tuple(repr(r[c]) for c in cols)) for r in df.collect())


#: Children alive at once.  Each child is a whole JVM, so the window
#: follows the host's cores: starting all of them together ran a
#: 4-vCPU / 16 GB host out of memory.
_WINDOW = max(1, (os.cpu_count() or 1) // 2)


def _run_child(name):
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, name, SF_SMOKE, REPO_ROOT],
        capture_output=True,
        text=True,
        timeout=300,
    )
    return proc.returncode, proc.stdout, proc.stderr


@pytest.fixture(scope="module")
def fresh_results():
    """One child session per consumer, at most ``_WINDOW`` running at
    a time.  Each child is still a fully fresh session in which its
    query runs FIRST — concurrency is between processes, never inside
    one."""
    with ThreadPoolExecutor(max_workers=_WINDOW) as pool:
        return dict(zip(CONSUMERS, pool.map(_run_child, CONSUMERS)))


@pytest.mark.parametrize("name", CONSUMERS)
def test_consumer_matches_when_first_in_fresh_session(name, spark, fresh_results):
    in_order_cols, in_order_rows = _normalize(all_specs()[name].fn(spark, SF_SMOKE))

    returncode, stdout, stderr = fresh_results[name]
    assert returncode == 0, f"{name} child failed:\n{stderr[-2000:]}"
    result_lines = [
        ln for ln in stdout.splitlines() if ln.startswith("RESULT::")
    ]
    assert result_lines, f"{name}: no RESULT line in child stdout"
    fresh = json.loads(result_lines[-1][len("RESULT::"):])

    assert fresh["cols"] == in_order_cols, name
    assert fresh["rows"] == in_order_rows, (
        f"{name}: fresh-session-first result diverges from in-order result "
        f"({len(fresh['rows'])} vs {len(in_order_rows)} rows)"
    )


def test_two_live_sessions_get_disjoint_substrate_paths(spark, sf_dir):
    """Two LIVE sessions in one process (``newSession()``) must never
    share a substrate's backing parquet (r12 verdict ask #3): the path
    digest folds in session identity, so the second session's
    mode('overwrite') write lands on its OWN files and cannot clobber
    a frame the first session is still lazily reading."""
    from data_engineering_examples_spark import scratch

    s2 = spark.newSession()
    name = "disjoint_paths_probe"

    def build_with(s, marker):
        return lambda: s.range(3).selectExpr(
            "id", f"'{marker}' AS marker"
        )

    df1 = scratch.memo_substrate(spark, name, sf_dir, build_with(spark, "one"))
    df2 = scratch.memo_substrate(s2, name, sf_dir, build_with(s2, "two"))
    try:
        import os

        key1 = (spark, name, os.path.realpath(sf_dir))
        key2 = (s2, name, os.path.realpath(sf_dir))
        path1 = scratch._SUBSTRATE_MEMO[key1][0]
        path2 = scratch._SUBSTRATE_MEMO[key2][0]
        assert path1 != path2, "sessions share a substrate path"
        # the second session's overwrite must not have clobbered the
        # first session's files: a LAZY re-read still sees session 1's
        # marker, not session 2's
        assert {r.marker for r in df1.collect()} == {"one"}
        assert {r.marker for r in df2.collect()} == {"two"}
        assert {r.marker for r in spark.read.parquet(path1).collect()} == {"one"}
    finally:
        scratch._SUBSTRATE_MEMO.pop((s2, name, os.path.realpath(sf_dir)), None)
        scratch._SUBSTRATE_MEMO.pop((spark, name, os.path.realpath(sf_dir)), None)
