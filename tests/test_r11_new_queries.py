"""Behavioral tests for the round-11 additions — properties the
value-hash oracle can't see:

* q256's cluster report must PARTITION the corpus: bucket doc counts
  sum to the document count, redundancy accounting is internally
  consistent, and the ppm shares floor-sum to <= 1e6;
* q257's calibration table must cover every LSH candidate pair exactly
  once, keep estimates in the 16-permutation domain, and order its
  per-bucket stats (min <= mean <= max);
* memo_substrate must return the SAME rows across calls in a session,
  key by input dir, and serve its reads from durable parquet.
"""

from __future__ import annotations

import os

from data_engineering_examples_spark.plans.registry import all_specs

SF = "/root/testdata/sf0.001"


def test_q256_cluster_report_partitions_the_corpus(spark):
    specs = all_specs()
    rows = specs["q256_dedup_cluster_report"].fn(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_redundant == r.n_docs - r.n_clusters
        assert r.size_log2 >= 0
        # bucket [2^b, 2^(b+1)) bounds the per-cluster size
        assert (1 << r.size_log2) * r.n_clusters <= r.n_docs
        assert r.n_docs < (1 << (r.size_log2 + 1)) * r.n_clusters
    assert sum(r.doc_ppm for r in rows) <= 1_000_000  # floor-div shares
    assert sum(r.doc_ppm for r in rows) > 1_000_000 - len(rows)


def test_q257_calibration_covers_every_lsh_pair_once(spark):
    specs = all_specs()
    rows = specs["q257_minhash_calibration"].fn(spark, SF).collect()
    n_pairs = specs["q24_minhash_lsh_pairs"].fn(spark, SF).count()
    assert sum(r.n_pairs for r in rows) == n_pairs
    assert n_pairs > 0, "fixture corpus must produce LSH candidates"
    for r in rows:
        assert 0 <= r.est_matches <= 16
        assert r.est_ppm == r.est_matches * 1_000_000 // 16
        assert r.min_exact_ppm <= r.mean_exact_ppm <= r.max_exact_ppm
        assert 0 <= r.min_exact_ppm and r.max_exact_ppm <= 1_000_000
    # an LSH candidate shares >= 1 band (2 matching signature rows), so
    # the estimate floor across candidates is 2 matches
    assert min(r.est_matches for r in rows) >= 2


def test_memo_substrate_is_stable_and_keyed_by_dir(spark, tmp_path):
    from data_engineering_examples_spark.scratch import memo_substrate

    calls = []

    def build_a():
        calls.append("a")
        return spark.range(5).selectExpr("id", "id * id AS sq")

    d1 = os.path.join(str(tmp_path), "in1")
    os.makedirs(d1)
    r1 = memo_substrate(spark, "t_memo", d1, build_a)
    r2 = memo_substrate(spark, "t_memo", d1, build_a)
    assert calls == ["a"], "second call must reuse, not rebuild"
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))

    def build_b():
        calls.append("b")
        return spark.range(3).selectExpr("id", "id AS sq")

    d2 = os.path.join(str(tmp_path), "in2")
    os.makedirs(d2)
    r3 = memo_substrate(spark, "t_memo", d2, build_b)
    assert calls == ["a", "b"], "different input dir must key separately"
    assert r3.count() == 3 and r1.count() == 5


def test_memo_substrate_read_is_parquet_scan(spark, tmp_path):
    from data_engineering_examples_spark.scratch import memo_substrate

    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    df = memo_substrate(
        spark, "t_memo_scan", d, lambda: spark.range(4).selectExpr("id")
    )
    assert df.count() == 4
    assert "parquet" in df._jdf.queryExecution().executedPlan().toString().lower()
