"""Fresh-session substrate-order parity (r12, the r11 verdict's ask #5).

Every memoized-substrate consumer must produce the SAME result when it
is the FIRST query of a brand-new session (so it triggers the substrate
build itself) as it does in an in-order session where some other query
built the substrate earlier.  r11 hand-verified this contract when the
memoization landed; this test machine-enforces it: each consumer runs
in a SUBPROCESS with a vanilla SparkSession (the driver's environment —
no tuned factory) at sf0.001, sharing that session only with consumers
of other substrates, and the normalized row set is compared
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
#: q72's membership which reads q24's pairs which reads the shingles),
#: packed into children whose consumers share no substrate.  The nine
#: consumers of ``hashed_shingles`` (q23, q24, q72, q246, q247, q250,
#: q255, q256, q257) each head their own child; the consumers of the
#: other substrates ride along, one per child for each substrate:
#:   semdedup_coarse_assign/_pairs  q231, q246, q260
#:   image_dhash                    q224, q226, q264 (pair finder, CC
#:                                  composer, caption-Jaccard composer)
#:   kmeans_xq                      q94, q101, q235 (Lloyd, PQ codes, the
#:                                  learned-SemDeDup closure)
#:   lsh_bands                      q32, q49, q238 (probe server,
#:                                  near-dup miner, canonical subset)
#:   ivf_ranked                     q50, q217 (serve, filtered search)
#: The child itself checks the packing: a consumer served a substrate
#: that an earlier consumer in its child built fails the child.
CHILDREN = [
    ("q23_ngram_jaccard_pairs", "q238_canonical_neardup"),
    ("q24_minhash_lsh_pairs", "q231_semantic_dedup", "q226_canonical_media"),
    ("q72_dedup_clusters", "q50_ivf_topk"),
    ("q246_paraphrase_candidates", "q224_image_phash_neardup", "q94_kmeans_refine"),
    ("q247_soft_dedup_weights", "q260_semdedup_threshold_sweep", "q101_pq_codes"),
    ("q250_dedup_adjusted_mix", "q264_pair_dedup_verdict", "q217_filtered_ann"),
    ("q255_cluster_safe_split", "q235_semantic_dedup_learned"),
    ("q256_dedup_cluster_report", "q32_ann_lsh_topk"),
    ("q257_minhash_calibration", "q49_embedding_neardup"),
]
CONSUMERS = [name for child in CHILDREN for name in child]

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
from data_engineering_examples_spark import scratch
from data_engineering_examples_spark.plans import all_specs

names, sf = json.loads(sys.argv[1]), sys.argv[2]
for name in names:
    before = set(scratch._SUBSTRATE_MEMO)
    df = all_specs()[name].fn(spark, sf)
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(repr(r[c]) for c in cols)) for r in df.collect())
    added = {key[1] for key in set(scratch._SUBSTRATE_MEMO) - before}
    stale = set(scratch.drain_substrate_hits()) - added
    if stale:
        sys.exit(f"{name} was served {sorted(stale)}, built by an earlier "
                 "consumer in this child: it did not run first for them")
    print("RESULT::" + json.dumps({"name": name, "cols": cols, "rows": rows}))
"""


def _normalize(df):
    cols = sorted(df.columns)
    return cols, sorted(repr(tuple(repr(r[c]) for c in cols)) for r in df.collect())


#: Children alive at once.  Each child is a whole JVM, so the window
#: follows the host's cores: starting all of them together ran a
#: 4-vCPU / 16 GB host out of memory.
_WINDOW = max(1, (os.cpu_count() or 1) // 2)


def _run_child(names):
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, json.dumps(names), SF_SMOKE, REPO_ROOT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    results = {}
    for ln in proc.stdout.splitlines():
        if ln.startswith("RESULT::"):
            r = json.loads(ln[len("RESULT::"):])
            results[r.pop("name")] = r
    return {name: (proc.returncode, results.get(name), proc.stderr) for name in names}


@pytest.fixture(scope="module")
def fresh_results():
    """One child session per entry of ``CHILDREN``, at most ``_WINDOW``
    running at a time.  Every consumer is the first in its child to
    touch each of its substrates, so it triggers their builds itself —
    concurrency is between processes, never inside one."""
    out = {}
    with ThreadPoolExecutor(max_workers=_WINDOW) as pool:
        for child in pool.map(_run_child, CHILDREN):
            out.update(child)
    return out


@pytest.mark.parametrize("name", CONSUMERS)
def test_consumer_matches_when_first_in_fresh_session(name, spark, fresh_results):
    in_order_cols, in_order_rows = _normalize(all_specs()[name].fn(spark, SF_SMOKE))

    returncode, fresh, stderr = fresh_results[name]
    assert returncode == 0, f"{name} child failed:\n{stderr[-2000:]}"
    assert fresh, f"{name}: no RESULT line in child stdout"

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
