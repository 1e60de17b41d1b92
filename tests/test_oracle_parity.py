"""The local twin of the driver's t2 correctness gate: every registered
query with an oracle must match DuckDB exactly at sf0.01, no entry may
leave executor blocks pinned, and building an entry launches no Spark
job unless the entry is named in ``BUILD_JOB_SITES``."""

from __future__ import annotations

import pytest

from real_time_streaming_system_with_apache_kafka_spark import registry
from tests.parity import assert_parity, last_job_id

_QUERIES = registry.all_queries()
_ORACLES = registry.all_oracles()

_MEMO = "functions/memo.py corpus fingerprint"
# The entries that may launch Spark jobs while their plan is built, each
# with the build-time site that does. Every other entry must build with
# none: its tables' schemas come from the parquet footers.
BUILD_JOB_SITES = {
    "dedup_cc_survivors": f"{_MEMO} (dup graph), connected-component round checkpoints",
    "dedup_embedding_cosine": f"{_MEMO} (block quantizer)",
    "dedup_embedding_multiprobe": f"{_MEMO} (block quantizer)",
    "dedup_quality_survivor": f"{_MEMO} (dup graph)",
    "dedup_semdedup": f"{_MEMO} (block quantizer)",
    "embed_pca_power": "Gram fit collect",
    "graph_kcore": f"{_MEMO} (dup graph), k-core round checkpoints",
    "graph_label_propagation": f"{_MEMO} (dup graph), LPA round checkpoints",
    "graph_pagerank_dupgraph": f"{_MEMO} (dup graph), PageRank round checkpoints",
    "graph_triangle_count": f"{_MEMO} (dup graph)",
    "j8_bucketed_join": "bucketed-table write, on the session's first build",
    "sample_cluster_safe_split": f"{_MEMO} (dup graph)",
    "sample_kcenter_coreset": "greedy center-pick fit collects",
    "search_bm25_topk": f"{_MEMO} (retrieval)",
    "search_hybrid_rrf": f"{_MEMO} (retrieval)",
    "search_mmr_diversify": f"{_MEMO} (retrieval), candidate fit checkpoint",
    "search_prf_expand": f"{_MEMO} (retrieval), feedback fit checkpoint",
    "sim_ivf_kmeans_topk": f"{_MEMO} (block quantizer)",
    "sim_ivfpq_topk": "PQ codebook fit collects",
    "sim_knn_join": f"{_MEMO} (block quantizer)",
    "sim_pq_topk": "PQ codebook fit collects",
    "sim_sq8_topk": "per-dimension stats fit collect",
    "stats_robust_mad": "histogram fit checkpoint and collects",
    "tokenize_with_learned_bpe": f"{_MEMO} (BPE merges)",
    "vocab_bpe_learn_merges": f"{_MEMO} (BPE merges)",
}


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    def pinned() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = pinned()
    j0 = last_job_id(spark)
    df = _QUERIES[name](spark, sf_dir)
    build_jobs = last_job_id(spark) - j0
    assert_parity(df, _ORACLES[name], sf_dir, name=name)
    assert pinned() - before == set(), f"{name} left persistent RDDs"
    if name not in BUILD_JOB_SITES:
        assert build_jobs == 0, f"{name} launched {build_jobs} jobs at build"


def test_every_query_has_an_oracle():
    """244/244 since r8 (mm_feature_extract and the approx-sketch pair
    were the last rows-only entries) — a new query without a DuckDB
    twin is a regression, not a category."""
    assert sorted(set(_QUERIES) - set(_ORACLES)) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"minute_ts", "n_events", "sum_value"}
