"""Blocking for blocked-GEMM vector kernels: the learned coarse
quantizer that derives the block key, and the salted probe/candidate
layout the kernels consume.

Two pieces that MUST stay in lockstep across their consumers
(``dedup._cosine_pairs`` / ``dedup.dedup_semdedup`` threshold pairs,
``similarity.sim_knn_join`` argmax):

1. **Count-derived blocking quantizer** (``with_block_cells``). The
   r1-r5 implementations blocked on the corpus's ``label`` column,
   whose cardinality is FIXED by the fixture — per-block GEMM work
   therefore grew quadratically with corpus size (SOAK_r5 measured
   12x last-decade ratios). Here the block id comes from a spherical
   k-means coarse quantizer (the same machinery as
   ``similarity.sim_ivf_kmeans_topk``) with the cell count derived
   from ``count()``: k = ceil(sqrt(N)), so expected block size is
   ~sqrt(N) and total in-block GEMM work is O(N^1.5) instead of
   O(N^2/const) — the standard IVF sizing rule. The quantizer trains
   on a deterministic hash-ordered SAMPLE of BLOCK_TRAIN_PER_CELL
   vectors per cell (how real IVF indexes train: Faiss recommends
   ~dozens of points per centroid), so training cost is
   O(sqrt(N) * k) per round, not O(N * k). Everything is
   engine-exact: hash-ordered init (md5 of the vec id — identical
   text in Spark and DuckDB), decimal-exact mean recomputes, and the
   quantized-cosine argmax assignment whose unrounded doubles are
   bit-identical across engines — so the DuckDB twin
   (``block_cells_oracle_ctes``) unrolls the Lloyd loop as chained
   CTEs and reproduces every cell id exactly.

2. **Salted-block layout** (``salted_block_union``): side A (probes)
   carries a deterministic per-row salt, side B (candidates) is
   replicated across ALL salts, so each (block, salt) group holds one
   salt's probes against the complete block — one Arrow batch, one
   BLAS matmul, and every probe meets every candidate in exactly one
   group. Shuffle volume is O(corpus x n_salts) narrow rows, never
   O(corpus^2).

Kept separate from the kernels themselves (``functions/kernels.py``,
shipped to workers by value), while this is driver-side plan
construction — a salting or quantizer change that reached only one
consumer would break the exactly-one-group invariant or the oracle
parity silently.

Driver-state contract: the centroid matrix is O(k x dim) =
O(sqrt(N) x dim) floats — model state, not data (at N = 10^12 vectors
and dim 64 that is ~0.5 GB, the in-RAM coarse-centroid table a real
IVF index of that size carries; shard the assignment matmul by
centroid range if it ever outgrows one driver).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions import kernels
from real_time_streaming_system_with_apache_kafka_spark.functions.arrays import (
    oracle_cosine_unrounded,
)
from real_time_streaming_system_with_apache_kafka_spark.functions.memo import (
    corpus_state,
)

# Quantizer sizing: k = ceil(sqrt(N)) cells, trained on a deterministic
# sample of BLOCK_TRAIN_PER_CELL vectors per cell for
# BLOCK_KMEANS_ITERS Lloyd rounds. Two rounds suffice for a BLOCKING
# quantizer (it partitions space; it does not need converged centroids)
# and keep the SQL twin's unrolled CTE chain short.
BLOCK_TRAIN_PER_CELL = 32
BLOCK_KMEANS_ITERS = 2


def block_cell_count(n: int) -> int:
    """Count-derived cell count: k = ceil(sqrt(N)) (>= 1)."""
    return max(1, math.ceil(math.sqrt(n)))


def make_assign_udf(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid assignment: one BLAS matmul of
    the batch against the (K x dim) centroid matrix — map-side only, no
    shuffle. ``kernels.nearest_cells`` ranks by the unrounded quantized
    cosine, bit-identical to the DuckDB oracle's, with ties to the
    lowest cell, so every engine picks the same cell; that makes the
    learned quantizers SQL-expressible (see block_cells_oracle_ctes
    and similarity's unrolled-Lloyd oracle)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def assign(emb):
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        X, C = kernels.stack_rows(emb), kernels.stack_rows(centroids)
        return pd.Series(kernels.nearest_cells(X, C, 1)[:, 0])

    return assign


def _hash_order() -> list:
    """Deterministic 'random' corpus order both engines reproduce
    exactly: md5 of the decimal vec_id text, vec_id tiebreak."""
    return [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]


def learn_block_quantizer(emb: DataFrame) -> tuple[int, list[list[float]]]:
    """The count-derived blocking quantizer, (k, centroids), trained
    once per corpus content in the session (``functions/memo.py``)."""
    if not [f for f in emb.schema.fields if f.name == "embedding"]:
        raise ValueError("learn_block_quantizer needs an 'embedding' column")
    st = corpus_state(emb, "vec_id", "embedding")
    if st["n"] == 0:
        return 1, []
    if "quantizer" not in st:
        st["quantizer"] = _train_block_quantizer(emb, st["n"])
    return st["quantizer"]


def _train_block_quantizer(
    emb: DataFrame, n: int
) -> tuple[int, list[list[float]]]:
    """Train the quantizer over an ``n``-row corpus, uncached.

    Init = the first k corpus vectors in hash order (a deterministic
    uniform sample — unlike a lowest-vec_id init, which
    would bias toward whatever the low ids happen to contain when ids
    correlate with content). Each Lloyd round assigns the hash-ordered
    training sample (k * BLOCK_TRAIN_PER_CELL vectors) via the Arrow
    matmul and recomputes decimal-exact per-dim means; empty cells
    keep their previous centroid. Deterministic under any partitioning
    or executor count; the only driver traffic is the O(k x dim)
    centroid matrix per round."""
    k = block_cell_count(n)
    # The full-corpus hash-order sort is the expensive stage of
    # training — run it ONCE: checkpoint the k*BLOCK_TRAIN_PER_CELL
    # training sample (also keeps the Lloyd rounds from re-executing
    # the sort per iteration), then derive the k init vectors by
    # re-sorting just that tiny sample (they are by construction its
    # first k rows in hash order).
    train = (
        emb.select("vec_id", "embedding")
        .orderBy(*_hash_order())
        .limit(k * BLOCK_TRAIN_PER_CELL)
        .checkpoint(eager=True)
    )
    init = train.orderBy(*_hash_order()).limit(k).collect()
    cents = [list(map(float, r.embedding)) for r in init]
    for _ in range(BLOCK_KMEANS_ITERS):
        assigned = train.withColumn(
            "cell", make_assign_udf(cents)(F.col("embedding"))
        )
        per_dim = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                (
                    F.sum(
                        F.col("x").cast("double").cast("decimal(30,15)")
                    ).cast("double")
                    / F.count(F.lit(1))
                ).alias("mean_x")
            )
        )
        rows = (
            per_dim.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("dim"), F.col("mean_x")))
                    ),
                    lambda s: s.getField("mean_x"),
                ).alias("centroid")
            )
            .collect()
        )
        learned = {r.cell: list(map(float, r.centroid)) for r in rows}
        cents = [learned.get(i, cents[i]) for i in range(k)]
    return k, cents


def with_block_cells(emb: DataFrame) -> DataFrame:
    """The corpus plus its learned ``block`` cell id (map-side Arrow
    matmul against the broadcast-by-closure centroid matrix — no
    shuffle). The quantizer is fit eagerly at plan-construction time,
    the same contract as sim_ivf_kmeans_topk (which shares this
    quantizer since r7), and same-content corpora share one trained
    quantizer per session through ``learn_block_quantizer``."""
    if not [f for f in emb.schema.fields if f.name == "embedding"]:
        raise ValueError("with_block_cells needs an 'embedding' column")
    _, cents = learn_block_quantizer(emb)
    if not cents:  # empty corpus: no kernel group will ever run
        return emb.withColumn("block", F.lit(0))
    return emb.withColumn("block", make_assign_udf(cents)(F.col("embedding")))


def make_topn_assign_udf(centroids: list[list[float]], nprobe: int):
    """Multi-probe variant of make_assign_udf: each vector's
    ``nprobe`` nearest cells as an array<int>, best first, with the
    same lowest-cell tie rule."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def assign(emb):
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype="object")
        X, C = kernels.stack_rows(emb), kernels.stack_rows(centroids)
        return pd.Series(list(kernels.nearest_cells(X, C, nprobe)))

    return assign


def with_multiprobe_cells(emb: DataFrame, nprobe: int) -> DataFrame:
    """The corpus with MULTI-PROBE cell membership: one row per
    (vec_id, block) for each vector's ``nprobe`` nearest learned
    cells. Same trained quantizer as with_block_cells (shared memo);
    the exploded frame feeds salted_block_union directly, so each
    (block, salt) kernel group sees every member — probe or boundary
    neighbor — of that cell."""
    _, cents = learn_block_quantizer(emb)
    if not cents:
        return emb.withColumn("block", F.lit(0))
    return emb.withColumn(
        "block",
        F.explode(make_topn_assign_udf(cents, nprobe)(F.col("embedding"))),
    )


def salted_block_union(emb: DataFrame, n_salts: int) -> DataFrame:
    """(block, vec_id, embedding, salt, is_probe) union of the salted
    probe side and the per-salt-replicated candidate side. ``emb``
    must already carry the ``block`` column (see with_block_cells)."""
    a = emb.select(
        "block",
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_salts)).alias("salt"),
        F.lit(True).alias("is_probe"),
    )
    b = emb.select(
        "block",
        "vec_id",
        "embedding",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))
        ).alias("salt"),
        F.lit(False).alias("is_probe"),
    )
    return a.unionByName(b)


def block_cells_oracle_ctes(src: str = "embeddings", nprobe: int = 1) -> str:
    """DuckDB twin of learn_block_quantizer + with_block_cells as a
    chain of CTE fragments ending in ``cells(vec_id, cell)`` — embed
    inside ``WITH {block_cells_oracle_ctes()}, ...``. The Lloyd loop
    unrolls exactly like similarity._kmeans_oracle_sql: hash-rank
    init, decimal-exact varchar-parsed means, empty-cell coalesce,
    unrounded-cosine argmax with ties to the lowest cell. All CTE
    names are bq_-prefixed to stay collision-free in host queries.
    ``nprobe`` > 1 keeps each vector's top-``nprobe`` cells (multi-probe
    membership, one row per (vec_id, cell)) — the twin of
    with_multiprobe_cells."""
    cos = oracle_cosine_unrounded
    parts = [
        f"""
        bq_emb AS (SELECT vec_id, embedding FROM {src}),
        bq_kp AS (
            SELECT cast(ceil(sqrt(count(*))) AS bigint) AS k FROM bq_emb
        ),
        bq_ranked AS (
            SELECT vec_id, embedding,
                   row_number() OVER (
                       ORDER BY md5(cast(vec_id AS varchar)), vec_id
                   ) AS hr
            FROM bq_emb
        ),
        bq_train AS (
            SELECT vec_id, embedding FROM bq_ranked, bq_kp
            WHERE hr <= k * {BLOCK_TRAIN_PER_CELL}
        ),
        bq_cents0 AS (
            SELECT hr - 1 AS cell,
                   list_transform(embedding, x -> cast(x AS double))
                       AS centroid
            FROM bq_ranked, bq_kp WHERE hr <= k
        )"""
    ]
    for i in range(1, BLOCK_KMEANS_ITERS + 1):
        p = i - 1
        parts.append(
            f"""
        bq_assign{i} AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT t.vec_id, t.embedding, c.cell,
                       row_number() OVER (
                           PARTITION BY t.vec_id
                           ORDER BY {cos('t.embedding', 'c.centroid')}
                                    DESC, c.cell
                       ) AS rk
                FROM bq_train t CROSS JOIN bq_cents{p} c
            ) WHERE rk = 1
        ),
        bq_perdim{i} AS (
            SELECT cell, dim,
                   cast(cast(sum(cast(cast(x AS double) AS decimal(30,15)))
                             AS varchar) AS double) / count(*) AS mean_x
            FROM (
                SELECT cell,
                       unnest(embedding) AS x,
                       unnest(generate_series(1, len(embedding))) AS dim
                FROM bq_assign{i}
            ) GROUP BY cell, dim
        ),
        bq_newc{i} AS (
            SELECT cell, list(mean_x ORDER BY dim) AS centroid
            FROM bq_perdim{i} GROUP BY cell
        ),
        bq_cents{i} AS (
            SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
            FROM bq_cents{p} p LEFT JOIN bq_newc{i} n USING (cell)
        )"""
        )
    last = f"bq_cents{BLOCK_KMEANS_ITERS}"
    parts.append(
        f"""
        cells AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos('e.embedding', 'c.centroid')}
                                    DESC, c.cell
                       ) AS rk
                FROM bq_emb e CROSS JOIN {last} c
            ) WHERE rk <= {nprobe}
        )"""
    )
    return ",".join(parts)
