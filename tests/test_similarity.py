"""IVF contract: probing NPROBE cells must recover most of the exact
top-k (recall vs brute force), and every IVF hit must carry the same
cosine the brute-force path computed (the kernel is shared)."""

from __future__ import annotations

import pytest

from real_time_streaming_system_with_apache_kafka_spark.operators import similarity


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_ivf_topk(spark, sf_dir).collect()
    }
    assert len(bf) == similarity.N_QUERIES * similarity.TOP_K
    hits = set(bf) & set(ivf)
    recall = len(hits) / len(bf)
    # nprobe=2 of 10 cells on random-ish data: expect meaningful but
    # partial recall; the floor guards against a broken probe path.
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"
    for k in hits:
        assert bf[k] == ivf[k]  # identical exact kernel on both paths


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_lsh_topk(spark, sf_dir).collect()
    }
    hits = set(bf) & set(lsh)
    recall = len(hits) / len(bf)
    # 4-table OR-construction + Hamming-1 multi-probe: ~0.8 expected
    # on this near-orthogonal corpus; 0.7 is the production-shaped bar.
    assert recall >= 0.7, f"LSH recall below contract: {recall}"
    for k in hits:
        assert bf[k] == lsh[k]


def test_lsh_pruning_ratio(spark, sf_dir):
    """The OR-construction must still PRUNE: the deduped candidate set
    per query has to stay well under the full corpus, or the index is
    just a slow brute force."""
    from pyspark.sql import functions as F

    from real_time_streaming_system_with_apache_kafka_spark.operators.similarity import (
        EMBEDDING_DIM,
        N_QUERIES,
        N_TABLES,
        _hamming1_probes,
        make_signature_udf,
    )
    from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

    emb = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == EMBEDDING_DIM
    )
    n_corpus = emb.count()
    sig = emb.withColumn("sigs", make_signature_udf()(F.col("embedding")))
    corpus = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.transform(
                "sigs", lambda s, i: F.concat(i.cast("string"), F.lit(":"), s)
            )
        ).alias("bucket"),
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.array(
                *[
                    p
                    for t in range(N_TABLES)
                    for p in _hamming1_probes(F.element_at("sigs", t + 1), t)
                ]
            )
        ).alias("bucket"),
    )
    n_candidates = (
        q.join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .count()
    )
    ratio = n_candidates / (N_QUERIES * n_corpus)
    print(f"LSH pruning ratio: {ratio:.3f} ({n_candidates} candidates)")
    assert ratio < 0.6, f"LSH index stopped pruning: {ratio}"


def test_centroids_shape(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

    emb = load(spark, "embeddings", sf_dir)
    cents = similarity.cell_centroids(emb).collect()
    n_labels = emb.select("label").distinct().count()
    dim = len(emb.first()["embedding"])
    assert len(cents) == n_labels
    assert all(len(c["centroid"]) == dim for c in cents)


def test_ivf_kmeans_recall_and_determinism(spark, sf_dir):
    """The LEARNED quantizer (spherical k-means) must beat the floor the
    label-based cells clear, and the whole pipeline — init, Lloyd's
    iterations, assignment, probe — must be run-to-run deterministic."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    km = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_ivf_kmeans_topk(spark, sf_dir).collect()
    }
    hits = set(bf) & set(km)
    recall = len(hits) / len(bf)
    assert recall >= 0.6, f"k-means IVF recall below contract: {recall}"
    for k in hits:
        assert bf[k] == km[k]  # shared exact kernel
    km2 = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sim_ivf_kmeans_topk(spark, sf_dir).collect()
    }
    assert set(km) == km2, "k-means pipeline is not deterministic"


def test_kmeans_cells_are_balanced(spark, sf_dir):
    """No collapsed quantizer: since r7 the IVF quantizer is the shared
    count-derived blocking quantizer (k = ceil(sqrt(N))); the probe
    math (corpus/cells x nprobe) only holds if it actually spreads the
    corpus. Cells may legitimately be empty (k grows with N and the
    training sample is finite), so the contract is on spread — no cell
    hoards the corpus — and on the count-derived sizing itself."""
    from pyspark.sql import functions as F

    from real_time_streaming_system_with_apache_kafka_spark.functions import blocks

    emb = similarity.load(spark, "embeddings", sf_dir)
    n = emb.count()
    k, cents = blocks.learn_block_quantizer(emb)
    assert k == blocks.block_cell_count(n)  # count-derived, not fixed
    assert len(cents) == k
    counts = {
        r["cell"]: r["c"]
        for r in emb.withColumn(
            "cell", similarity.make_assign_udf(cents)(F.col("embedding"))
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert sum(counts.values()) == n
    assert len(counts) >= 0.5 * k  # most cells populated
    assert max(counts.values()) <= 0.25 * n  # no collapsed quantizer


def test_pq_rerank_recall_and_exact_values(spark, sf_dir):
    """PQ shortlist + exact rerank: recall@5 >= 0.8 against brute
    force, and every hit carries the IDENTICAL exact cosine (the
    rerank runs the same kernel, so values must match bit-for-bit).
    Also pins the compression contract: codes are M_SUB small ints."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_pq_topk(spark, sf_dir).collect()
    }
    hits = set(bf) & set(pq)
    recall = len(hits) / len(bf)
    assert recall >= 0.8, f"PQ rerank recall below contract: {recall}"
    for k in hits:
        assert bf[k] == pq[k]


def test_pq_codes_are_small_ints(spark, sf_dir):
    """The stored index really is M_SUB codes in [0, K_CODES) — the
    16x compression claim depends on it."""
    from pyspark.sql import functions as F

    emb = similarity.load(spark, "embeddings", sf_dir)
    cb_rows = (
        emb.filter(
            (F.col("vec_id") >= similarity.PQ_CB_BASE)
            & (F.col("vec_id") < similarity.PQ_CB_BASE + similarity.K_CODES)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    cb_raw = [r.embedding for r in sorted(cb_rows, key=lambda r: r.vec_id)]
    encode = similarity.make_pq_encode_udf(cb_raw)
    stats = (
        emb.select(encode("embedding").alias("codes"))
        .select(
            F.min(F.array_min("codes")).alias("lo"),
            F.max(F.array_max("codes")).alias("hi"),
            F.min(F.size("codes")).alias("m_lo"),
            F.max(F.size("codes")).alias("m_hi"),
        )
        .collect()[0]
    )
    assert stats.lo >= 0 and stats.hi < similarity.K_CODES
    assert stats.m_lo == stats.m_hi == similarity.M_SUB


def test_ivfpq_recall_vs_ivf_and_exact_values(spark, sf_dir):
    """The composed IVF+PQ index searches the same probed cells as
    plain IVF; the PQ shortlist may lose a few of IVF's exact top-5
    (recall >= 0.7 contract), and every hit must carry the identical
    exact cosine from the shared rerank kernel."""
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_ivf_topk(spark, sf_dir).collect()
    }
    ivfpq = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_ivfpq_topk(spark, sf_dir).collect()
    }
    hits = set(ivf) & set(ivfpq)
    recall = len(hits) / len(ivf)
    assert recall >= 0.7, f"IVFPQ recall vs IVF below contract: {recall}"
    for k in hits:
        assert ivf[k] == ivfpq[k]


def test_prefix_topk_recall_and_exact_values(spark, sf_dir):
    """Matryoshka prefix search: the 16-dim prefix pass plus exact
    rerank recovers >= 0.5 of brute force's top-5 on the synthetic
    (non-MRL) embeddings, and hits carry identical exact cosines."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    px = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_prefix_topk(spark, sf_dir).collect()
    }
    hits = set(bf) & set(px)
    recall = len(hits) / len(bf)
    assert recall >= 0.5, f"prefix recall below contract: {recall}"
    for k in hits:
        assert bf[k] == px[k]


def test_filtered_topk_exact_over_eligible_set(spark, sf_dir):
    """Pre-filtered search must be EXACT over the eligible subset:
    every returned neighbor satisfies the predicate, and the result
    equals brute force computed on the filtered corpus."""
    from pyspark.sql import functions as F

    emb = similarity.load(spark, "embeddings", sf_dir)
    labels = {
        r.vec_id: r.label for r in emb.select("vec_id", "label").collect()
    }
    rows = similarity.sim_filtered_topk(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert labels[r.neighbor_id] >= similarity.FILTER_MIN_LABEL
    # No eligible neighbor outside the result beats the last result.
    bf = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    # Cross-check: any brute-force hit that is eligible must also be a
    # filtered-search hit (exactness over the intersection).
    filt = {(r.query_id, r.neighbor_id) for r in rows}
    for (q, n), _ in bf.items():
        if labels[n] >= similarity.FILTER_MIN_LABEL:
            assert (q, n) in filt


def test_semantic_decon_containment_and_recall(spark, sf_dir):
    """decontaminate_semantic's flags are a SUBSET of the exact
    brute-force cross-split flags (LSH can miss, never invent), each
    flagged cosine equals the exact pair cosine, recall clears the
    production bar, the split discipline holds, and the threshold is
    the dedup suite's embedding-pair calibration."""
    from pyspark.sql import functions as F

    from real_time_streaming_system_with_apache_kafka_spark.functions.arrays import (
        cosine,
    )
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup
    from real_time_streaming_system_with_apache_kafka_spark.sources.tables import (
        load,
    )

    assert similarity.SEM_DECON_THRESHOLD == dedup.COSINE_THRESHOLD

    got = {
        r["vec_id"]: r
        for r in similarity.decontaminate_semantic(spark, sf_dir).collect()
    }
    emb = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == similarity.EMBEDDING_DIM
    )
    bench = emb.filter(
        F.col("vec_id") % similarity.SEM_DECON_MOD == 0
    ).select(F.col("vec_id").alias("bench_id"), F.col("embedding").alias("be"))
    train = emb.filter(
        F.col("vec_id") % similarity.SEM_DECON_MOD != 0
    ).select(F.col("vec_id").alias("train_id"), F.col("embedding").alias("te"))
    exact = {
        (r["train_id"], r["bench_id"]): r["cos"]
        for r in train.crossJoin(F.broadcast(bench))
        .withColumn("cos", cosine(F.col("te"), F.col("be")))
        .filter(F.col("cos") >= similarity.SEM_DECON_THRESHOLD)
        .collect()
    }
    exact_flagged = {t for t, _ in exact}
    bench_ids = {
        r["bench_id"] for r in bench.select("bench_id").collect()
    }
    assert set(got) <= exact_flagged  # no invented flags
    recall = len(got) / len(exact_flagged)
    assert recall >= 0.7, f"semantic decon recall below contract: {recall}"
    for vec_id, row in got.items():
        assert vec_id not in bench_ids  # split discipline
        assert row["best_bench_id"] in bench_ids
        # flagged cosine is the exact pair cosine, not an estimate
        assert row["cos"] == exact[(vec_id, row["best_bench_id"])]
        assert row["n_bench_candidates"] >= 1


def test_sq8_recall_and_exact_values(spark, sf_dir):
    """SQ8 hits are value-identical to brute force (the rerank uses
    the exact kernel), recall clears the PQ-family bar, and the codes
    column is genuinely uint8 (every code in [0, 255])."""
    from pyspark.sql import functions as F

    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    sq = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.sim_sq8_topk(spark, sf_dir).collect()
    }
    hits = set(bf) & set(sq)
    recall = len(hits) / len(bf)
    assert recall >= 0.8, f"SQ8 recall below contract: {recall}"
    for k in hits:
        assert bf[k] == sq[k]
    # Code range law on the actual encode expression.
    from real_time_streaming_system_with_apache_kafka_spark.sources.tables import (
        load,
    )

    emb = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == similarity.EMBEDDING_DIM
    )
    quant = similarity.norm_quant(emb).select("vec_id", "q2")
    lo, hi = (
        quant.select(
            F.min(F.array_min("q2")).alias("lo"),
            F.max(F.array_max("q2")).alias("hi"),
        )
        .collect()[0]
    )
    # normalized 7dp grid: every component within +-1e7
    assert -10_000_000 <= lo <= hi <= 10_000_000


def test_pca_gram_rejects_out_of_contract_magnitudes(spark, tmp_path):
    """The exact int64 Gram kernel of embed_pca_power needs
    |q|^2 < 2^62 for q in 1e-7 units (|x| below ~214.7). A component of
    310.0 (|q| = 3.1e9, so q^2 leaves int64) must fail loudly instead
    of wrapping."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = similarity.EMBEDDING_DIM
    vecs = [[0.5] * dim for _ in range(4)]
    vecs[1][3] = 310.0
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(4), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0, 1, 0, 1], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    with pytest.raises(Exception, match="exact int64 Gram bound"):
        similarity.embed_pca_power(spark, str(tmp_path))


@pytest.mark.parametrize("entry", ["sim_bruteforce_topk", "sim_knn_join"])
def test_cosine_kernels_reject_out_of_contract_magnitudes(spark, tmp_path, entry):
    """The exact quantized cosine needs dim * max|Qa| * max|Qb| < 2^53
    (|x| below ~1.18 at 64 dims). A component of 2.0 must fail loudly
    in the row-wise and the blocked kernel instead of summing
    inexactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = similarity.EMBEDDING_DIM
    vecs = [[0.1 * (1 + i % 3)] * dim for i in range(8)]
    vecs[6][3] = 2.0
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(8), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0, 1] * 4, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    with pytest.raises(Exception, match="exact float64 range"):
        getattr(similarity, entry)(spark, str(tmp_path)).collect()
