"""Similarity search over embeddings (north-star extension).

- **Brute-force cosine top-k** — the correctness baseline: query set
  broadcast against the corpus, exact decimal-accurate cosine, rank
  window per query. O(queries x corpus) but embarrassingly parallel;
  right answer, reference for recall.
- **IVF (inverted-file) top-k** — the scale path: corpus pre-clustered
  into coarse cells (here the provided ``label`` plays the quantizer
  cell id; at 100 TB the cells come from k-means or LSH), queries probe
  only the ``nprobe`` nearest cells by centroid distance, then exact
  cosine within the probed cells. Shuffle volume drops from O(corpus)
  per query to O(corpus/cells x nprobe).

Centroids are decimal-exact per-dimension means (posexplode ->
groupBy(cell, dim) -> exact sum / count -> re-assembled), so the same
cells are probed on any engine/run order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions import kernels
from real_time_streaming_system_with_apache_kafka_spark.functions.arrays import (
    cosine,
    oracle_cosine,
    oracle_cosine_unrounded,
    oracle_dot,
    oracle_norm,
)
from real_time_streaming_system_with_apache_kafka_spark.functions.blocks import (
    BLOCK_KMEANS_ITERS,
    block_cells_oracle_ctes,
    learn_block_quantizer,
    make_assign_udf,
    make_topn_assign_udf,
    salted_block_union,
    with_block_cells,
)
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import (
    load,
    load_rebalanced,
)

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 5
NPROBE = 2


def _rank_topk(candidates: DataFrame) -> DataFrame:
    """Shared tail of every search variant: exact cosine, rank window
    with neighbor-id tie-break, keep the top K."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("cos", cosine(F.col("qe"), F.col("ne")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _all_pairs(emb: DataFrame) -> DataFrame:
    """Query-set-vs-corpus pair scaffold shared by the exhaustive
    variants: vec_id < N_QUERIES broadcast against every vector,
    self-matches excluded."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return (
        F.broadcast(q)
        .crossJoin(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ne"),
            )
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each query vector (vec_id < N_QUERIES),
    self-matches excluded, ties broken by neighbor id."""
    emb = load(spark, "embeddings", sf_dir)
    return _rank_topk(_all_pairs(emb))


def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the LSH ANN index against exact brute-force
    ground truth, per query — the same "measure, don't guess" audit as
    ``dedup_lsh_calibration``, for the vector side: before trusting a
    bucketed index at 100 TB you run this on a sample and read the
    recall, you don't assume the hyperplane count is right.

    Scale shape: the ground-truth side is the documented all-pairs
    baseline over the SAMPLE of query vectors (N_QUERIES rows
    broadcast); the index side is the production bucketed path; the
    comparison join touches only 2×K×N_QUERIES id pairs. The recall
    tests in tests/test_similarity.py assert thresholds; this operator
    publishes the number."""
    truth = sim_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        sim_lsh_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"), F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("k")).alias("recall"),
        )
        .orderBy("query_id")
    )


def cell_centroids(emb: DataFrame) -> DataFrame:
    """Decimal-exact per-cell mean vectors: posexplode -> exact sum per
    (cell, dim) -> collect back into ordered arrays."""
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("double").cast("decimal(30,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_x")
    )
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("mean_x")))
            ),
            lambda s: s.getField("mean_x"),
        ).alias("centroid")
    )


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: probe the NPROBE cells whose centroids are most
    cosine-similar to the query, exact search inside those cells only.
    (Fully oracled since r3 — deterministic decimal-exact centroids;
    the recall-vs-bruteforce contract is in tests/test_similarity.py.)"""
    emb = load(spark, "embeddings", sf_dir)
    cents = cell_centroids(emb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("label")
    )
    probed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .withColumn("cent_cos", cosine(F.col("qe"), F.col("centroid")))
        .withColumn("cell_rank", F.row_number().over(probe_w))
        .filter(F.col("cell_rank") <= NPROBE)
        .select("query_id", "qe", "label")
    )
    candidates = probed.join(
        emb.select("label", F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")),
        "label",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _rank_topk(candidates)


# --- Learned coarse quantizer (spherical k-means) -------------------
# The IVF variant above reuses the corpus's own ``label`` as the cell
# id; this is the honest version where the cells are LEARNED from the
# embedding column, the way a real IVF index is built when no cluster
# structure is given. Since r7 the quantizer IS the shared
# count-derived blocking quantizer (functions/blocks.py): r3-r6 used
# a fixed K_CELLS=8, so per-cell candidate lists grew O(N/8) and the
# probe scan O(N^2) — the same fixed-cardinality defect class the r6
# dedup-GEMM fix eliminated. k = ceil(sqrt(N)) keeps per-query probe
# cost at O(NPROBE * sqrt(N)).


IVF_CORPUS_PROBES = 2  # corpus-side multi-assignment (cells per vector)


def ivf_query_nprobe(k: int) -> int:
    """Count-derived query probe width: ceil(sqrt(k)), floor 2. With
    k = ceil(sqrt(N)) cells this keeps the per-query candidate scan at
    O(IVF_CORPUS_PROBES * N / sqrt(k)) = O(N^0.75) — sublinear, the
    standard 'nprobe grows with nlist' IVF sizing rule."""
    return max(2, math.ceil(math.sqrt(k)))


def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over LEARNED cells: the shared count-derived spherical
    k-means coarse quantizer (k = ceil(sqrt(N)) cells trained on a
    hash-ordered BLOCK_TRAIN_PER_CELL-per-cell sample,
    functions/blocks.py), then the standard IVF probe — queries search
    their ivf_query_nprobe(k) nearest cells by centroid cosine, exact
    cosine within those cells. Recall knobs are BOTH count-derived:
    corpus vectors carry multi-assignment to their IVF_CORPUS_PROBES
    nearest cells (boundary neighbors stay findable as cells shrink
    relative to neighborhoods) and query probe width grows as
    ceil(sqrt(k)). Fully oracled: hash-order init + decimal-exact
    means + the quantized assignment kernel make every Lloyd round
    bit-reproducible, so the DuckDB twin embeds
    block_cells_oracle_ctes and matches exactly; the
    recall-vs-bruteforce contract lives in tests/test_similarity.py.
    """
    emb = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == EMBEDDING_DIM
    )
    k, cents = learn_block_quantizer(emb)
    corpus = emb.withColumn(
        "cell",
        F.explode(
            make_topn_assign_udf(cents, IVF_CORPUS_PROBES)(F.col("embedding"))
        ),
    )
    cents_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("cell")
    )
    probed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents_df))
        .withColumn("cent_cos", cosine(F.col("qe"), F.col("centroid")))
        .withColumn("cell_rank", F.row_number().over(probe_w))
        .filter(F.col("cell_rank") <= ivf_query_nprobe(k))
        .select("query_id", "qe", "cell")
    )
    candidates = (
        probed.join(
            corpus.select(
                "cell",
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ne"),
            ),
            "cell",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # multi-assignment can surface the same (query, neighbor) via
        # two shared cells; the copies are bit-identical (cos is
        # computed from the embeddings, not the cell), so this is an
        # exact dedup, never a value merge.
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(candidates)


PCA_ITERS = 3  # fixed-round power iteration (unrolled in the oracle)
PCA_VSCALE = 1_000_000  # direction vector in 1e-6 integer units


def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the (mean-centered) embedding matrix
    via fixed-round power iteration, and every vector's projection onto
    it — the whitening/diversity axis an embedding pipeline computes
    before spectral filtering or stratified-by-component sampling.

    Exactness: embeddings quantize to 1e-7 integer units (the corpus
    cosine convention); centering is kept integral by working with
    y_i = N*x_i - S (N = corpus size, S = per-dim sum) instead of the
    rational mean, and the direction vector is renormalized each round
    to 1e-6 integer units by max-|component| (power iteration admits
    any normalization) using non-negative floor division — every
    quantity is an exact integer in decimal(38,0)/hugeint, so the
    DuckDB oracle unrolls the {PCA_ITERS} rounds as chained CTEs and
    matches bit-for-bit, projection included.

    Scale shape (r10): TWO corpus passes total, zero shuffles of the
    matrix and zero per-round jobs. Pass 1 is one Arrow scan that
    computes exact per-task partials of the raw moments — n, the
    per-dim sums S, and the {EMBEDDING_DIM}x{EMBEDDING_DIM} raw Gram
    P_de = sum x_d*x_e (chunked int64 matmuls, totals carried as
    arbitrary-precision Python ints, emitted as strings) — O(dim^2)
    rows back to the driver. The centered Gram follows algebraically:
    G_de = sum_i y_id*y_ie = N^2*P_de - N*S_d*S_e, and EVERY power
    round is then a driver-side exact-integer matvec u = G v (u_d =
    sum_i c_i*y_id = sum_e G_de*v_e — identical, term for term, to the
    per-round corpus aggregation this replaces; r9 ran one Spark job +
    collect per round against a checkpointed centered matrix,
    ~6 driver-coordinated jobs of fixed overhead each at small SF).
    Pass 2 emits the projection directly from the raw scan:
    y_i . v = N*(x_i . v) - S . v, exact in decimal(38,0).
    Output is corpus-sized: (vec_id, label, proj_units) with the
    exact integer projection emitted as a string (decimal output
    columns are canonicalizer-unsafe; see registry window lint)."""
    xq_el = lambda x: (  # noqa: E731 — shared quantization convention
        F.floor(F.abs(x.cast("double") * 1e7) + F.lit(0.5))
        * F.signum(x.cast("double"))
    ).cast("long")
    # Gram pass reads the REBALANCED scan (the Arrow kernel should use
    # every core even on a degenerate single-rowgroup file); the
    # projection pass reads the plain scan — its per-row work is one
    # codegen'd fold, not worth an exchange on any layout.
    base = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == EMBEDDING_DIM
    ).select(
        "vec_id",
        "label",
        F.transform("embedding", xq_el).alias("xq"),
    )
    gram_in = load_rebalanced(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == EMBEDDING_DIM
    ).select(F.transform("embedding", xq_el).alias("xq"))

    dim = EMBEDDING_DIM

    def gram_partials(batches):
        """Per-task exact (n, S, P) partials over the quantized xq rows
        (int64 straight off the Arrow buffer — quantization already
        happened JVM-side in xq_el, shared with the projection pass).
        Chunked int64 matmuls sized so chunk_rows * max|q|^2 < 2^62
        (|q| ~ 5.8e6 on this corpus -> full 16384-row chunks); chunk
        totals accumulate in Python ints, so the partials are exact at
        any corpus size. Strings cross the boundary back because the
        totals exceed int64 at scale."""
        import numpy as np
        import pyarrow as pa

        n_tot = 0
        s_tot = [0] * dim
        p_tot = [0] * (dim * dim)
        for batch in batches:
            col = batch.column(0)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            q64 = np.asarray(flat, dtype=np.int64).reshape(-1, dim)
            lo = 0
            while lo < len(q64):
                mx = int(np.abs(q64[lo : lo + 16384]).max(initial=1))
                if mx * mx >= 1 << 62:
                    # Even one row's products would leave int64.
                    raise ValueError(
                        f"embed_pca_power: |q| = {mx} breaks the exact "
                        "int64 Gram bound |q|^2 < 2^62"
                    )
                step = min(16384, (1 << 62) // (mx * mx))
                sub = q64[lo : lo + step]
                lo += step
                n_tot += len(sub)
                for d, val in enumerate(sub.sum(axis=0, dtype=np.int64)):
                    s_tot[d] += int(val)
                for j, val in enumerate((sub.T @ sub).ravel()):
                    p_tot[j] += int(val)
        yield pa.RecordBatch.from_pydict(
            {
                "n": pa.array([n_tot], pa.int64()),
                "s": pa.array([[str(v) for v in s_tot]]),
                "p": pa.array([[str(v) for v in p_tot]]),
            }
        )

    partials = (
        gram_in
        .mapInArrow(gram_partials, "n long, s array<string>, p array<string>")
        .collect()
    )
    n_rows = sum(int(r["n"]) for r in partials)
    s_vec = [0] * dim
    p_mat = [0] * (dim * dim)
    for r in partials:
        for d, v_ in enumerate(r["s"]):
            s_vec[d] += int(v_)
        for j, v_ in enumerate(r["p"]):
            p_mat[j] += int(v_)
    # Centered Gram from raw moments (exact): G = N^2*P - N*outer(S,S).
    gram = [
        [
            n_rows * n_rows * p_mat[d * dim + e] - n_rows * s_vec[d] * s_vec[e]
            for e in range(dim)
        ]
        for d in range(dim)
    ]

    v = [PCA_VSCALE] * dim  # v0 = all-ones direction
    for _ in range(PCA_ITERS):
        u = [sum(gram[d][e] * v[e] for e in range(dim)) for d in range(dim)]
        m = max(abs(c) for c in u)
        if m == 0:  # degenerate corpus: keep the previous direction
            break
        # sign * nonneg floor-div: floor == truncate for nonneg
        # operands, so Python, Spark `div`, and DuckDB `//` agree.
        v = [
            (1 if c >= 0 else -1) * ((abs(c) * PCA_VSCALE) // m) for c in u
        ]

    # proj_i = y_i . v = N*(x_i . v) - S . v, exact in decimal(38,0)
    # (x_i . v products and the 64-term fold stay integral; S . v is a
    # Python bigint pushed down as a string-cast literal because it can
    # exceed int64 at scale).
    v_lit = F.array(*[F.lit(int(c)).cast("long") for c in v])
    dec0 = F.lit(0).cast("decimal(38,0)")
    dotv = F.aggregate(
        F.zip_with("xq", v_lit, lambda x, vv: x.cast("decimal(38,0)") * vv),
        dec0,
        lambda acc, t: acc + t,
    )
    sv = sum(s * c for s, c in zip(s_vec, v))
    proj = dotv * F.lit(int(n_rows)) - F.lit(str(sv)).cast("decimal(38,0)")
    return base.select(
        "vec_id", "label", proj.cast("decimal(38,0)").cast("string").alias("proj_units")
    )


def _pca_oracle_sql() -> str:
    """DuckDB twin of embed_pca_power: the power iteration unrolled as
    {PCA_ITERS} chained CTE rounds over the same integral centered
    matrix (hugeint throughout; `//` on non-negative operands matches
    the driver-side Python floor division)."""
    rounds = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        rounds.append(
            f"""
        c{k} AS (
            SELECT vec_id, sum(y * v) AS c
            FROM y JOIN {prev} USING (dim) GROUP BY vec_id
        ),
        u{k} AS (
            SELECT dim, sum(c * y) AS u
            FROM c{k} JOIN y USING (vec_id) GROUP BY dim
        ),
        m{k} AS (SELECT max(abs(u)) AS m FROM u{k}),
        v{k} AS (
            SELECT dim,
                   (CASE WHEN u < 0 THEN -1 ELSE 1 END)
                   * ((abs(u) * {PCA_VSCALE}) // m) AS v
            FROM u{k} CROSS JOIN m{k}
        )"""
        )
        prev = f"v{k}"
    chain = ",".join(rounds)
    return f"""
        WITH e AS (
            SELECT vec_id, label, embedding FROM embeddings
            WHERE len(embedding) = {EMBEDDING_DIM}
        ),
        xq AS (
            SELECT vec_id, label,
                   cast(unnest(range({EMBEDDING_DIM})) AS int) AS dim,
                   cast(floor(abs(cast(unnest(embedding) AS double)
                                  * 10000000) + 0.5) AS hugeint)
                   * (CASE WHEN unnest(embedding) < 0 THEN -1 ELSE 1 END)
                       AS x
            FROM e
        ),
        s AS (SELECT dim, sum(x) AS s FROM xq GROUP BY dim),
        n AS (SELECT count(*) AS n FROM e),
        y AS (
            SELECT vec_id, label, dim, n * x - s AS y
            FROM xq JOIN s USING (dim) CROSS JOIN n
        ),
        v0 AS (
            SELECT cast(unnest(range({EMBEDDING_DIM})) AS int) AS dim,
                   cast({PCA_VSCALE} AS hugeint) AS v
        ),{chain},
        fproj AS (
            SELECT vec_id, sum(y * v) AS c
            FROM y JOIN {prev} USING (dim) GROUP BY vec_id
        )
        SELECT e.vec_id, e.label, cast(c AS varchar) AS proj_units
        FROM e JOIN fproj ON e.vec_id = fproj.vec_id
    """


# OR-construction: N_TABLES independent N_PLANES-plane tables, each
# probed at its own bucket plus all Hamming-1 flips. Single-table
# recall on the near-orthogonal test corpus is ~0.25 (measured;
# theory P[X<=1], X~Bin(6, th/pi) at th~60deg gives 0.35); 6
# independent tables lift it to ~1-(1-0.25)^6 ~ 0.82. The dials: more
# planes = smaller buckets (speed), more tables/probes = higher
# recall. Recall >= 0.7 and pruning < 0.6 are asserted in
# tests/test_similarity.py.
N_PLANES = 6
N_TABLES = 6
EMBEDDING_DIM = 64
_LSH_SEED = 0x5EED


def make_signature_udf(
    n_tables: int = N_TABLES, n_planes: int = N_PLANES, seed: int = _LSH_SEED
):
    """Arrow-vectorized hyperplane signatures: one numpy matmul yields
    all N_TABLES sign-bit strings per vector. Planes come from a seeded
    PCG64 generator (``kernels.lsh_planes``) — bit-reproducible across
    runs and machines, no stored model.

    Sign bits come from an exact QUANTIZED integer dot (embeddings at
    7dp, planes at 6dp, ``kernels.gram``), so the bucket assignment is
    bit-identical across BLAS implementations AND SQL-expressible: the
    DuckDB oracle inlines the same quantized planes as literals and
    recomputes identical signatures.

    At 100 TB the bucketing is one Arrow batch scan of the embedding
    column: (batch x dim) @ (dim x tables*planes) BLAS, no shuffle.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def signatures(emb):
        import numpy as np
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype=object)
        Qx = kernels.quantize(kernels.stack_rows(emb))
        Qp = kernels.lsh_planes(seed, n_tables, n_planes, Qx.shape[1])
        bits = (kernels.gram(Qx, Qp) >= 0).astype(np.uint8) + ord("0")  # (n, T*P)
        return pd.Series(
            [
                [
                    row[t * n_planes : (t + 1) * n_planes].tobytes().decode()
                    for t in range(n_tables)
                ]
                for row in bits
            ]
        )

    return signatures


def _hamming1_probes(sig, table: int):
    """Bucket keys for one table: ``"t:sig"`` plus every 1-bit flip.
    The table prefix keeps buckets disjoint across tables so all
    N_TABLES indexes ride one equality join."""
    prefix = F.lit(f"{table}:")
    return [F.concat(prefix, sig)] + [
        F.concat(
            prefix,
            F.substring(sig, 1, i),
            F.when(F.substring(sig, i + 1, 1) == "1", "0").otherwise("1"),
            F.substring(sig, i + 2, N_PLANES - i - 1),
        )
        for i in range(N_PLANES)
    ]


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: N_TABLES independent random-hyperplane
    signatures bucket the corpus (OR-construction); each query probes,
    per table, its own bucket plus all single-bit flips (multi-probe),
    then exact cosine on the deduped candidate set. The scale path when
    no cluster structure (IVF cells) exists: shuffle is one equality
    join on the prefixed signature. Fully oracled since r3 (quantized
    sign bits — see _lsh_oracle_sql); the recall >= 0.7 and pruning
    contracts live in tests/test_similarity.py."""
    emb = load(spark, "embeddings", sf_dir)
    # Mixed dims within one Arrow batch would break np.stack; any real
    # embedding table has a fixed dim, enforce it at the scan.
    emb = emb.filter(F.size("embedding") == EMBEDDING_DIM)
    sig = emb.withColumn("sigs", make_signature_udf()(F.col("embedding")))
    # Corpus rows are indexed once per table; queries additionally fan
    # out to the Hamming-1 probes of each table's signature.
    corpus = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.explode(
            F.transform(
                "sigs", lambda s, i: F.concat(i.cast("string"), F.lit(":"), s)
            )
        ).alias("bucket"),
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
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
    # A (query, neighbor) pair can collide in several tables (that IS
    # the OR-construction), so dedup before the exact kernel. The
    # group-by shuffles wide rows, but only O(candidates) of them —
    # exactly the set the exact cosine must touch anyway.
    candidates = (
        F.broadcast(q)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qe").alias("qe"), F.first("ne").alias("ne"))
    )
    return _rank_topk(candidates)


HARD_NEG_K = 3  # hard negatives mined per anchor


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for every query
    anchor, the top-{HARD_NEG_K} highest-cosine vectors with a
    DIFFERENT label — the near-miss impostors that make an embedding
    model's loss informative (random negatives are trivially far).

    The candidate generator is the SAME multi-probe hyperplane LSH as
    sim_lsh_topk (an anchor's hard negatives are by definition in its
    collision buckets); the label inequality filters candidates
    BEFORE the exact kernel, so the extra cost over plain ANN is one
    integer comparison per candidate. One equality join on the bucket
    key — no corpus-wide pair set."""
    emb = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == EMBEDDING_DIM
    )
    sig = emb.withColumn("sigs", make_signature_udf()(F.col("embedding")))
    corpus = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("ne"),
        F.explode(
            F.transform(
                "sigs", lambda s, i: F.concat(i.cast("string"), F.lit(":"), s)
            )
        ).alias("bucket"),
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
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
    candidates = (
        F.broadcast(q)
        .join(corpus, "bucket")
        .filter(F.col("q_label") != F.col("n_label"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.first("qe").alias("qe"),
            F.first("ne").alias("ne"),
            F.first("n_label").alias("neg_label"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("cos", cosine(F.col("qe"), F.col("ne")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARD_NEG_K)
        .select("query_id", "rank", "neighbor_id", "neg_label", "cos")
    )


# Semantic decontamination: embedding-space twin of curation.py's
# decontaminate_holdout (exact 5-gram matching catches verbatim leaks;
# paraphrased benchmark items only show up in embedding space). Same
# holdout convention (id % MOD == 0 is the benchmark slice); the flag
# threshold reuses the dedup suite's embedding-pair calibration
# (dedup.COSINE_THRESHOLD — not imported to keep the module graph
# acyclic; the equality is pinned in tests/test_similarity.py).
SEM_DECON_MOD = 10
# A benchmark suite is FIXED SIZE — it does not grow with the training
# corpus. The cap pins the bench side to the base id range (a no-op on
# every fixture SF, where all vec_ids are far below it) so the op's
# broadcast-small-side contract survives corpus replication: without
# it the sf10 soak's id-striped replicas scaled the bench side 100x
# with EXACT-duplicate vectors, whose identical LSH keys made the
# candidate join quadratic (measured disk-full).
SEM_BENCH_CAP = 1_000_000
SEM_DECON_THRESHOLD = 0.35


def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) decontamination: flag every TRAINING
    vector whose cosine to some BENCHMARK vector (vec_id %
    {SEM_DECON_MOD} == 0) reaches {SEM_DECON_THRESHOLD} — the
    paraphrase-leak complement of the exact n-gram decontamination
    pass. Candidates come from the SAME multi-probe hyperplane LSH as
    sim_lsh_topk; production gets exactly this recall (the LSH miss
    rate is measured by sim_ann_recall_eval, and the exact-containment
    law vs a brute-force scan is pinned in tests).

    Emits, per flagged training vector: the number of distinct bench
    candidates its buckets produced, the closest bench vector, and
    that cosine.

    Scale shape (r10): the benchmark suite is the SMALL side — its
    bucket index ({N_TABLES}x{N_PLANES + 1} multi-probe keys per
    vector, IDS ONLY) broadcasts, so the training corpus never
    shuffles through the join. Collisions dedup in ONE aggregation
    keyed by train_id (collect_set of bench ids — a pair hit via
    several tables/probes enters the set once); its exchange carries
    the training embedding once per candidate-bearing train vector
    plus the id set, instead of r9's per-collision re-scoring. The
    Arrow cosine kernel then scores each DISTINCT (train, bench) pair
    exactly once — the bench embedding re-attaches map-side from a
    second, fan-out-free broadcast — and the best-candidate pick is a
    row_number window (cos desc, bench_id asc) behind a SECOND
    hashpartitioning(train_id) exchange: the kernel's ArrowEvalPython
    drops the aggregate's output partitioning in Spark 4.1, so the
    window cannot reuse it. That second exchange carries scalar rows
    only (train_id, n, bench_id, cos), no embedding. Values identical:
    cos is a deterministic function of (te, be), so score-after-dedup
    equals first-over-duplicate-scores. The corpus-sized LSH signature
    pass is one Arrow batch matmul."""
    emb = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == EMBEDDING_DIM
    )
    sig = emb.withColumn("sigs", make_signature_udf()(F.col("embedding")))
    train = sig.filter(F.col("vec_id") % SEM_DECON_MOD != 0).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("te"),
        F.explode(
            F.transform(
                "sigs", lambda s, i: F.concat(i.cast("string"), F.lit(":"), s)
            )
        ).alias("bucket"),
    )
    bench_pred = (F.col("vec_id") % SEM_DECON_MOD == 0) & (
        F.col("vec_id") < SEM_BENCH_CAP
    )
    bench_index = sig.filter(bench_pred).select(
        F.col("vec_id").alias("bench_id"),
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
    bench_emb = emb.filter(bench_pred).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("be"),
    )
    pairs = (
        train.join(F.broadcast(bench_index), "bucket")
        .groupBy("train_id")
        .agg(
            F.collect_set("bench_id").alias("cands"),
            F.first("te").alias("te"),
        )
    )
    scored = (
        pairs.select(
            "train_id",
            F.size("cands").cast("bigint").alias("n_bench_candidates"),
            "te",
            F.explode("cands").alias("bench_id"),
        )
        .join(F.broadcast(bench_emb), "bench_id")
        .withColumn("cos", cosine(F.col("te"), F.col("be")))
    )
    # Best candidate per train vector: the r9 window pick
    # (cos desc, bench_id asc) over its own scalar-only
    # hashpartitioning(train_id) exchange — ArrowEvalPython drops the
    # aggregation's partitioning, so the window cannot reuse it.
    # (A max_by(struct) aggregate was measured first: its struct
    # buffer falls back to SortAggregate and EnsureRequirements adds
    # an exchange for the widened grouping key — strictly worse.)
    w = Window.partitionBy("train_id").orderBy(
        F.col("cos").desc(), F.col("bench_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("cos") >= SEM_DECON_THRESHOLD))
        .select(
            F.col("train_id").alias("vec_id"),
            "n_bench_candidates",
            F.col("bench_id").alias("best_bench_id"),
            "cos",
        )
        .orderBy("vec_id")
    )


def _unrounded_cos(a: str, b: str) -> str:
    """The assignment kernel's cosine WITHOUT the final 9dp round —
    bit-identical to make_assign_udf's quantized doubles, so argmax
    comparisons agree across engines without any rounding step.
    (Alias of functions.arrays.oracle_cosine_unrounded, which the
    blocking-quantizer oracle in functions/blocks.py also uses.)"""
    return oracle_cosine_unrounded(a, b)


def _kmeans_oracle_sql() -> str:
    """DuckDB twin of sim_ivf_kmeans_topk: embeds the shared
    blocking-quantizer CTE chain (block_cells_oracle_ctes — hash-rank
    init, k = ceil(sqrt(N)), decimal-exact varchar-parsed means,
    empty-cell coalesce, unrounded-cosine argmax with ties to the
    lowest cell; corpus multi-assignment via nprobe=IVF_CORPUS_PROBES),
    then mirrors the label-IVF probe: rank cells per query by rounded
    centroid cosine with the count-derived probe width
    greatest(2, ceil(sqrt(k))), exact cosine within the probed cells
    (DISTINCT collapses pairs witnessed by two shared cells), top-K
    per query. Iterative operators normally
    settle for rows-only checks; deterministic init + exact arithmetic
    make the full loop SQL-expressible."""
    src = (
        "(SELECT vec_id, embedding FROM embeddings "
        f"WHERE len(embedding) = {EMBEDDING_DIM})"
    )
    cents = f"bq_cents{BLOCK_KMEANS_ITERS}"
    return f"""
        WITH {block_cells_oracle_ctes(src=src, nprobe=IVF_CORPUS_PROBES)},
        corpus AS (
            SELECT e.vec_id, e.embedding, c.cell
            FROM bq_emb e JOIN cells c USING (vec_id)
        ),
        probed AS (
            SELECT query_id, qe, cell FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell,
                       kp.k,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {oracle_cosine('q.embedding', 'c.centroid')}
                                    DESC, c.cell
                       ) AS cell_rank
                FROM bq_emb q CROSS JOIN {cents} c CROSS JOIN bq_kp kp
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE cell_rank <= greatest(2, cast(ceil(sqrt(k)) AS bigint))
        ),
        scored AS (
            SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id,
                   {oracle_cosine('p.qe', 'n.embedding')} AS cos
            FROM probed p JOIN corpus n USING (cell)
            WHERE p.query_id <> n.vec_id
        )
        SELECT query_id, cast(rank AS int) AS rank, neighbor_id, cos
        FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id)
                       AS rank
            FROM scored
        )
        WHERE rank <= {TOP_K}
    """


def _lsh_sql_parts() -> tuple[str, str, str]:
    """The three SQL fragments every LSH oracle twin is built from:
    per-table signature columns (seeded hyperplanes regenerated with
    the same PCG64 streams as make_signature_udf, quantized at 6dp to
    exact integer literals), plain per-table bucket keys, and the
    multi-probe (Hamming-1 flip) bucket keys. Shared by
    sim_lsh_topk / sim_hard_negatives / decontaminate_semantic so the
    candidate generator can never drift between oracles."""
    qp = kernels.lsh_planes(
        _LSH_SEED, N_TABLES, N_PLANES, EMBEDDING_DIM
    ).astype("int64")

    def bit(t: int, p: int) -> str:
        w = ", ".join(str(v) for v in qp[t * N_PLANES + p])
        return (
            "CASE WHEN list_sum(list_transform(list_zip(embedding, "
            f"[{w}]), pr -> cast(cast(pr[1] AS double) AS decimal(9,7)) "
            "* pr[2])) >= 0 THEN '1' ELSE '0' END"
        )

    sig_cols = ", ".join(
        " || ".join(bit(t, p) for p in range(N_PLANES)) + f" AS sig{t}"
        for t in range(N_TABLES)
    )
    corpus_buckets = ", ".join(
        f"'{t}:' || sig{t}" for t in range(N_TABLES)
    )

    def flips(t: int) -> list[str]:
        out = [f"'{t}:' || sig{t}"]
        for i in range(N_PLANES):
            out.append(
                f"'{t}:' || substr(sig{t}, 1, {i}) || "
                f"(CASE WHEN substr(sig{t}, {i + 1}, 1) = '1' "
                f"THEN '0' ELSE '1' END) || "
                f"substr(sig{t}, {i + 2}, {N_PLANES - i - 1})"
            )
        return out

    probe_buckets = ", ".join(p for t in range(N_TABLES) for p in flips(t))
    return sig_cols, corpus_buckets, probe_buckets


def _lsh_oracle_sql(label_negatives: bool = False) -> str:
    """DuckDB twin of sim_lsh_topk, possible because the signature
    kernel is quantized-integer: the seeded hyperplanes are
    regenerated here (same PCG64 streams), quantized at 6dp to exact
    integers, and inlined as SQL literals; sign(sum(qx * w)) over the
    7dp-quantized embedding is then exact decimal arithmetic in DuckDB
    and exact integer-in-float64 arithmetic in numpy — identical
    buckets by construction, not by luck. The probe fan-out
    (per-table bucket + Hamming-1 flips), candidate dedup, and exact
    cosine rank mirror the DataFrame plan."""
    sig_cols, corpus_buckets, probe_buckets = _lsh_sql_parts()

    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, {sig_cols}
            FROM embeddings
            WHERE len(embedding) = {EMBEDDING_DIM}
        ),
        corpus AS (
            SELECT vec_id AS neighbor_id,
                   unnest([{corpus_buckets}]) AS bucket
            FROM sigs
        ),
        probes AS (
            SELECT vec_id AS query_id,
                   unnest([{probe_buckets}]) AS bucket
            FROM sigs WHERE vec_id < {N_QUERIES}
        ),
        pairs AS (
            SELECT DISTINCT p.query_id, c.neighbor_id
            FROM probes p JOIN corpus c USING (bucket)
            WHERE p.query_id <> c.neighbor_id
        ),
        scored AS (
            SELECT pr.query_id, pr.neighbor_id, n.label AS neg_label,
                   {oracle_cosine('q.embedding', 'n.embedding')} AS cos
            FROM pairs pr
            JOIN embeddings q ON q.vec_id = pr.query_id
            JOIN embeddings n ON n.vec_id = pr.neighbor_id
            {"WHERE q.label <> n.label" if label_negatives else ""}
        )
        SELECT query_id, cast(rank AS int) AS rank, neighbor_id,
               {"neg_label, " if label_negatives else ""}cos
        FROM (
            SELECT query_id, neighbor_id, neg_label, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id)
                       AS rank
            FROM scored
        )
        WHERE rank <= {HARD_NEG_K if label_negatives else TOP_K}
    """


RANGE_THRESHOLD = 0.25  # rounded-cosine radius for range search


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search (radius query): every corpus vector within
    cosine >= {RANGE_THRESHOLD} of each query vector — the "all
    sufficiently similar" retrieval vector stores expose alongside
    top-k (and the primitive semantic dedup thresholds are built on).

    The threshold test runs on the 9-dp-rounded quantized-integer
    cosine, so the accept/reject decision is bit-identical across
    engines — no pair can flip on a last-ulp float difference. Same
    broadcast-queries shape as the brute-force baseline: exact, scan-
    parallel, O(queries x corpus); the IVF/LSH variants above are the
    pruned scale paths for bigger query sets."""
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    pairs = F.broadcast(q).crossJoin(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
        )
    )
    return (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qe"), F.col("ne")))
        .filter(F.col("cos") >= RANGE_THRESHOLD)
        .select("query_id", "neighbor_id", "cos")
    )


def make_block_knn_kernel():
    """Blocked-GEMM 1-NN kernel for ``applyInPandas``.

    Per (block, salt) group: this salt's probe rows x ALL block
    vectors through ``kernels.cosine_matrix`` (one exact BLAS matmul
    on 7dp-quantized integers), then a per-row argmax with ties
    resolved to the SMALLEST neighbor id via an explicit min over the
    tie set (numpy's argmax first-occurrence rule would depend on row
    order, which Spark does not guarantee)."""

    def block_nn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "block": pd.Series([], dtype="int32"),
                "vec_id": pd.Series([], dtype="int64"),
                "nn_id": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        probe_mask = pdf["is_probe"].values
        if not probe_mask.any() or probe_mask.all():
            return empty

        a, b = pdf[probe_mask], pdf[~probe_mask]
        C = kernels.cosine_matrix(
            kernels.stack_rows(a["embedding"].values),
            kernels.stack_rows(b["embedding"].values),
        )
        ids_a, ids_b = a["vec_id"].values, b["vec_id"].values
        C[ids_a[:, None] == ids_b[None, :]] = -np.inf
        best = C.max(axis=1)
        nn = np.where(
            C == best[:, None], ids_b[None, :], np.iinfo(np.int64).max
        ).min(axis=1)
        valid = np.isfinite(best)  # singleton cells have no neighbor
        if not valid.any():
            return empty
        return pd.DataFrame(
            {
                "block": np.full(int(valid.sum()), pdf["block"].iloc[0]),
                "vec_id": ids_a[valid],
                "nn_id": nn[valid],
                "cos": best[valid],
            }
        )

    return block_nn


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN self-join: EVERY corpus vector mapped to its exact nearest
    neighbor within its coarse quantizer cell — the all-corpus
    companion of the 5-query top-k searches, and the building block of
    SemDeDup-style semantic pruning and kNN-graph construction.

    Blocking (re-specced r6, VERDICT r5 #2): cells come from the
    LEARNED count-derived quantizer (functions/blocks.py — spherical
    k-means, k = ceil(sqrt(N))), not the fixture's fixed-cardinality
    ``label`` column, so per-cell GEMM work is O(N) per cell and
    O(N^1.5) total instead of O(N^2/const). Within-cell 1-NN over
    IVF cells is the standard kNN-graph construction compromise:
    recall vs the exact global 1-NN is measured, not asserted (see
    tests/test_r3_extensions.py recall audit).

    Scale shape: the dedup_embedding_cosine salted-block pattern with
    an argmax instead of a threshold — probe side salted, candidate
    side replicated per salt, so each (block, salt) group is one Arrow
    batch -> one BLAS matmul, and each probe's full candidate row is
    present in exactly one group (the per-group argmax IS the global
    within-cell argmax). The quadratic score matrix exists only inside
    numpy; output is exactly one row per non-singleton vector. Shuffle
    is O(corpus x n_salts) narrow rows — never O(corpus^2)."""
    emb = load(spark, "embeddings", sf_dir)
    raw = (
        salted_block_union(
            with_block_cells(emb),
            spark.sparkContext.defaultParallelism,
        )
        .groupBy("block", "salt")
        .applyInPandas(
            make_block_knn_kernel(),
            "block int, vec_id long, nn_id long, cos double",
        )
    )
    return raw.select(
        F.col("block").alias("cell"),
        "vec_id",
        "nn_id",
        F.round("cos", 9).alias("cos"),
    )


FILTER_MIN_LABEL = 5  # metadata predicate for the filtered search


def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered vector search: top-k among ONLY the vectors
    satisfying a metadata predicate (label >= FILTER_MIN_LABEL) — the
    filtered-search problem every production vector store faces.

    This is the PRE-filter architecture: the predicate applies to the
    corpus scan BEFORE any vector math (and, being a plain column
    predicate, pushes down into the parquet scan — row groups of
    ineligible vectors are never read, pinned in tests/test_plans.py),
    so results are EXACT over the eligible set with no recall loss.
    The alternative — post-filtering an ANN shortlist — loses recall
    whenever the filter is selective (eligible neighbors fall off the
    unfiltered shortlist) and needs oversampling heuristics; with a
    columnar scan + pushdown, pre-filtering is both exact and cheaper.
    At extreme selectivity the IVF/PQ variants compose the same way:
    filter first, then index the eligible subset."""
    emb = load(spark, "embeddings", sf_dir)
    eligible = emb.filter(F.col("label") >= FILTER_MIN_LABEL)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(
            eligible.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ne"),
            )
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rank_topk(pairs)


# --- Matryoshka prefix-dimension search -----------------------------
# Modern embedding models (MRL training) order information by
# dimension: a prefix of the vector is itself a usable lower-fidelity
# embedding. Searching the first PREFIX_DIMS dims costs 1/4 of the
# float math and bytes of the full vector; the exact full-dimension
# kernel then reranks a small shortlist. Complements PQ (which
# compresses by quantization) with compression by truncation — the
# two compose in production (prefix scan -> PQ rerank -> exact).
PREFIX_DIMS = 16
PREFIX_SHORTLIST = 50


def sim_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension (Matryoshka) top-k: rank all candidates by the
    cosine of the first PREFIX_DIMS dims (same quantized-integer
    kernel, so the shortlist is engine-deterministic), keep
    PREFIX_SHORTLIST per query, rerank those with the exact full-dim
    cosine. Hits carry true cosines (value-identical to brute force).
    Recall contract in tests/test_similarity.py."""
    emb = load(spark, "embeddings", sf_dir)
    pre = _all_pairs(emb).withColumn(
        "precos",
        cosine(
            F.slice(F.col("qe"), 1, PREFIX_DIMS),
            F.slice(F.col("ne"), 1, PREFIX_DIMS),
        ),
    )
    sw = Window.partitionBy("query_id").orderBy(
        F.col("precos").desc(), F.col("neighbor_id")
    )
    shortlist = (
        pre.withColumn("srank", F.row_number().over(sw))
        .filter(F.col("srank") <= PREFIX_SHORTLIST)
        .select("query_id", "neighbor_id", "qe", "ne")
    )
    return _rank_topk(shortlist)


def _prefix_oracle_sql() -> str:
    pre = oracle_cosine(
        f"list_slice(q.embedding, 1, {PREFIX_DIMS})",
        f"list_slice(n.embedding, 1, {PREFIX_DIMS})",
    )
    return f"""
        WITH pre AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   {pre} AS precos
            FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN embeddings n
            WHERE q.vec_id <> n.vec_id
        ),
        shortlist AS (
            SELECT query_id, neighbor_id
            FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY precos DESC, neighbor_id)
                           AS srank
                FROM pre
            )
            WHERE srank <= {PREFIX_SHORTLIST}
        ),
        exact AS (
            SELECT s.query_id, s.neighbor_id,
                   {oracle_cosine('q.embedding', 'n.embedding')} AS cos
            FROM shortlist s
            JOIN embeddings q ON q.vec_id = s.query_id
            JOIN embeddings n ON n.vec_id = s.neighbor_id
        )
        SELECT query_id, cast(rank AS int) AS rank, neighbor_id, cos
        FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id)
                       AS rank
            FROM exact
        )
        WHERE rank <= {TOP_K}
    """


# --- Product quantization (PQ) ANN --------------------------------
# The compression-based scale path: each 64-float vector is encoded as
# M_SUB small codes (256 bytes -> 16 bytes, 16x), queries score every
# candidate with M_SUB lookup-table adds (no float math on the scan
# side), and only the ADC shortlist is re-ranked with the exact
# kernel. This is the FAISS ADC + rerank recipe; at 100 TB the codes
# column is what the ANN scan actually reads, and the exact kernel
# touches PQ_SHORTLIST/corpus ≈ 10% of rows per query.
#
# Determinism: vectors are normalized by the exact-integer norm (one
# IEEE sqrt + divide, same op sequence both engines) so L2 ADC ranks
# like cosine; subvector distances then run on 7dp-quantized integer
# arithmetic — code assignment, query LUTs, and ADC sums are
# integer-exact and the DuckDB twin recomputes them bit-for-bit. The
# codebook is the K_CODES corpus vectors from PQ_CB_BASE
# (deterministic; a production index would train it with k-means — the
# learned-quantizer pattern is already covered by sim_ivf_kmeans_topk).
M_SUB = 16  # subspaces
D_SUB = 4  # dims per subspace (M_SUB * D_SUB = embedding dim)
K_CODES = 64  # centroids per subspace
PQ_CB_BASE = 100  # vec_id PQ_CB_BASE .. PQ_CB_BASE+K_CODES-1 seed the codebook
PQ_SHORTLIST = 50  # ADC candidates per query fed to the exact rerank


def make_pq_encode_udf(codebook_raw: list[list[float]]):
    """Arrow-vectorized PQ encoder: per row, the argmin-subdistance
    code in each subspace (ties to the lowest code id — matching the
    oracle's (dist, cid) row_number order). Vectors and codebook are
    normalized and requantized by ``kernels.pq_quantize``; normalizing
    first makes L2 ADC distance rank like cosine (PQ's standard cosine
    recipe), and the DuckDB twin spells out the same op sequence."""
    from pyspark.sql.functions import pandas_udf

    CB = kernels.pq_quantize(codebook_raw)

    @pandas_udf("array<int>")
    def encode(col):
        import pandas as pd

        if len(col) == 0:
            return pd.Series([], dtype=object)
        d2 = kernels.pq_distances(kernels.pq_quantize(list(col)), CB, M_SUB)
        # argmin returns the FIRST minimum = lowest code id on ties.
        return pd.Series(list(d2.argmin(axis=2).astype("int32")))

    return encode


def _pq_model(spark: SparkSession, emb: DataFrame):
    """Bounded PQ model state: the raw codebook rows (K_CODES x dim)
    and the broadcastable per-query LUT frame (N_QUERIES rows of
    M_SUB*K_CODES exact integers). Shared by the flat-scan and the
    IVF-composed variants."""
    cb_rows = (
        emb.filter(
            (F.col("vec_id") >= PQ_CB_BASE)
            & (F.col("vec_id") < PQ_CB_BASE + K_CODES)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    cb_raw = [r.embedding for r in sorted(cb_rows, key=lambda r: r.vec_id)]
    q_rows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    CB = kernels.pq_quantize(cb_raw)
    luts = []
    for r in sorted(q_rows, key=lambda r: r.vec_id):
        (d2,) = kernels.pq_distances(kernels.pq_quantize([r.embedding]), CB, M_SUB)
        luts.append((int(r.vec_id), [int(x) for x in d2.ravel()]))
    q_lut = spark.createDataFrame(luts, "query_id long, lut array<long>")
    return cb_raw, q_lut


def _pq_adc_expr() -> str:
    """Codegen'd M_SUB-term ADC lookup sum (JVM-side, no UDF)."""
    terms = " + ".join(
        f"element_at(lut, {m * K_CODES} + element_at(codes, {m + 1}) + 1)"
        for m in range(M_SUB)
    )
    return f"cast({terms} as bigint)"


def _adc_shortlist_rerank(emb: DataFrame, scored: DataFrame, shortlist_n: int) -> DataFrame:
    """Shared ADC tail (Python twin of the oracle's _pq_rerank_tail):
    per-query shortlist window on (adist, neighbor_id), then exact
    cosine rerank of shortlist rows only."""
    sw = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("srank", F.row_number().over(sw))
        .filter(F.col("srank") <= shortlist_n)
        .select("query_id", "neighbor_id")
    )
    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    candidates = shortlist.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")),
        "neighbor_id",
    ).join(F.broadcast(qe), "query_id")
    return _rank_topk(candidates)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC shortlist + exact rerank: corpus encoded once to
    M_SUB-code rows, each query scores every candidate by summing
    M_SUB broadcast LUT entries (exact integers; lower ADC distance =
    closer), keeps the PQ_SHORTLIST best, and re-ranks only those with
    the exact cosine kernel — so the output rows carry true cosines
    (hits are value-identical to sim_bruteforce_topk).

    Plan shape: one Arrow-batched encode pass over the corpus (the
    index build — in production the codes are written once and
    reused), a broadcast nested-loop of 5 query LUT rows with a
    codegen'd 16-term lookup sum, a per-query shortlist window, then
    the exact kernel on shortlist-size candidates only. Codebook and
    query LUTs are bounded model state (K_CODES x dim and
    N_QUERIES x M_SUB x K_CODES integers). Recall-vs-bruteforce
    contract: tests/test_similarity.py."""
    emb = load(spark, "embeddings", sf_dir)
    cb_raw, q_lut = _pq_model(spark, emb)
    encode = make_pq_encode_udf(cb_raw)
    coded = emb.select(
        F.col("vec_id").alias("neighbor_id"), encode("embedding").alias("codes")
    )
    scored = (
        coded.join(F.broadcast(q_lut))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adist", F.expr(_pq_adc_expr()))
    )
    return _adc_shortlist_rerank(emb, scored, PQ_SHORTLIST)


PQ_IVF_SHORTLIST = 20  # smaller shortlist: cells already pre-filter


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed index (the FAISS IVFPQ architecture): the
    coarse quantizer (decimal-exact label-cell centroids) picks NPROBE
    cells per query, PQ/ADC scores only the vectors inside those
    cells, and the exact kernel re-ranks a small shortlist.

    This is the full 100 TB ANN stack in one plan: cell pruning cuts
    the scan to corpus/cells x nprobe, the codes column cuts bytes
    read 16x, and exact math touches only PQ_IVF_SHORTLIST rows per
    query. All three stages are deterministic-exact, so the whole
    composition carries a DuckDB twin."""
    emb = load(spark, "embeddings", sf_dir)
    cb_raw, q_lut = _pq_model(spark, emb)
    encode = make_pq_encode_udf(cb_raw)
    cents = cell_centroids(emb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("label")
    )
    probed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .withColumn("cent_cos", cosine(F.col("qe"), F.col("centroid")))
        .withColumn("cell_rank", F.row_number().over(probe_w))
        .filter(F.col("cell_rank") <= NPROBE)
        .select("query_id", "label")
    )
    coded = emb.select(
        "label",
        F.col("vec_id").alias("neighbor_id"),
        encode("embedding").alias("codes"),
    )
    scored = (
        F.broadcast(probed)
        .join(coded, "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q_lut), "query_id")
        .withColumn("adist", F.expr(_pq_adc_expr()))
    )
    return _adc_shortlist_rerank(emb, scored, PQ_IVF_SHORTLIST)


# ---------------------------------------------------------------------------
# SQ8 (int8 scalar quantization) — the standard first memory-reduction
# step in production vector stores (4x over float32, per-dimension
# min/max affine codes), sitting between full-precision and PQ in the
# accuracy/compression trade. Completes the quantization family
# (PQ, IVF+PQ, Matryoshka prefix dims).

SQ_SHORTLIST = 50  # same rerank budget as the flat PQ scan
# Spark SQL twin of kernels.pq_quantize / the oracle's q1t+qn CTEs:
# 7dp-quantize, L2-normalize (IEEE sqrt/divide are correctly rounded,
# so doubles agree bit-for-bit with numpy and DuckDB), re-quantize to
# integer-valued bigints. No Python UDF, unlike PQ's argmin encode.
# Spark does not hoist loop-invariant subexpressions out of lambda
# bodies, and CollapseProject inlines a chained per-row column into
# the lambda that reads it, so a norm referenced inside the
# re-quantize transform is re-evaluated once PER ELEMENT. The norm
# therefore enters through zip_with over array_repeat(_n, n), which
# evaluates it once per row (the 2k-vector sf0.1 encode pass: 0.85 s
# -> 0.23 s on 4 cores; the per-element form measured up to 64x).


def norm_quant(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Append a ``q2`` normalized-quantized integer-vector column."""
    return (
        df.withColumn(
            "_q1",
            F.expr(
                f"transform({col}, x -> cast(cast(cast(x as double)"
                " as decimal(9,7)) * 10000000 as bigint))"
            ),
        )
        .withColumn(
            "_n",
            F.expr(
                "greatest(sqrt(cast(aggregate(_q1, cast(0 as bigint),"
                " (a, v) -> a + v * v) as double)), 1d)"
            ),
        )
        .withColumn(
            "q2",
            F.expr(
                "zip_with(_q1, array_repeat(_n, size(_q1)),"
                " (x, n) -> cast(floor(abs(cast(x as double) / n)"
                " * 10000000 + 0.5) as bigint)"
                " * (case when x < 0 then -1 else 1 end))"
            ),
        )
        .drop("_q1", "_n")
    )


def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN: every vector stores one uint8 code
    per dimension (affine per-dimension min/max grid learned from the
    corpus), queries score candidates by an exact-integer asymmetric
    dot against the RECONSTRUCTED codes, the best {SQ_SHORTLIST} per
    query re-rank with the exact cosine kernel — output rows carry
    true cosines (hits value-identical to sim_bruteforce_topk; recall
    contract in tests/test_similarity.py).

    Exactness: vectors normalize-then-quantize to integer grids (the
    PQ kernel's convention), per-dim minima/ranges are exact integer
    aggregates, codes are one floor division, and the asymmetric
    score Σ q_d·(min_d·255 + code_d·range_d) is an exact bigint — so
    the whole index carries a DuckDB twin, and unlike PQ the entire
    INDEX path (encode + scoring) is JVM codegen; the only Python
    stage is the shared exact-cosine rerank kernel on shortlist rows.

    Scale shape: the stats pass is one posexplode aggregate collected
    as O(dim) model state (the k-means-centroid precedent); encode is
    a map-only pass over the corpus (in production the codes column
    is written once — 4x smaller than the floats — and reused);
    scoring is a {N_QUERIES}-row broadcast against the codes column;
    exact math touches shortlist rows only."""
    emb = load(spark, "embeddings", sf_dir).filter(
        F.size("embedding") == EMBEDDING_DIM
    )
    # The per-dim stats pass is a fit step: one aggregate collected as
    # O(dim) model state. The encode pass and the query grid below
    # recompute the norm-quant chain instead of reading a checkpoint;
    # it is one per-row projection over the corpus.
    quant = norm_quant(emb).select("vec_id", "q2")
    stats = (
        quant.select(F.posexplode("q2").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("minq"), F.max("v").alias("maxq"))
        .collect()
    )
    minq = [0] * EMBEDDING_DIM
    rng = [0] * EMBEDDING_DIM
    for r in stats:
        minq[r["pos"]] = int(r["minq"])
        rng[r["pos"]] = max(int(r["maxq"]) - int(r["minq"]), 1)
    minq_lit = "array(" + ", ".join(f"{v}L" for v in minq) + ")"
    rng_lit = "array(" + ", ".join(f"{v}L" for v in rng) + ")"
    # Encode once per corpus row: the uint8 codes AND the
    # reconstructed integer vector recon_d = min_d*255 + code_d*rng_d.
    # The per-dim constant arrays are attached as columns and combined
    # with zip_with — an element_at(<array literal>, i) inside a
    # lambda re-materializes the 64-literal array once PER ELEMENT
    # (the same non-hoisting trap as the norm, another ~2x here).
    min255_lit = "array(" + ", ".join(f"{v * 255}L" for v in minq) + ")"
    coded = (
        quant.withColumn("minarr", F.expr(minq_lit))
        .withColumn("rngarr", F.expr(rng_lit))
        .withColumn("min255", F.expr(min255_lit))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "zip_with(zip_with(q2, minarr, (x, m) -> x - m),"
                " rngarr, (s, r) -> (s * 255) div r)"
            ).alias("codes"),
            "rngarr",
            "min255",
        )
        .select(
            "neighbor_id",
            "codes",
            F.expr(
                "zip_with(zip_with(codes, rngarr, (c, r) -> c * r),"
                " min255, (t, m) -> t + m)"
            ).alias("recon"),
        )
    )
    q = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q2").alias("q2q")
    )
    score = (
        "aggregate(zip_with(q2q, recon, (a, b) -> a * b),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    scored = (
        coded.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adist", -F.expr(score))
    )
    return _adc_shortlist_rerank(emb, scored, SQ_SHORTLIST)


# Shared normalize-then-quantize CTE block (q1t + qn): the SQL twin
# of kernels.pq_quantize, used by every quantization oracle (PQ, IVF+PQ,
# SQ8) so the vector grid can never drift between twins.
_NORM_QUANT_CTES = """\
        q1t AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> cast(cast(cast(x AS double) AS decimal(9,7))
                                 * 10000000 AS bigint)) AS q1
            FROM embeddings
        ),
        qn AS (
            SELECT vec_id,
                   list_transform(q1,
                       x -> cast(floor(abs(cast(x AS double) / n)
                                       * 10000000 + 0.5) AS bigint)
                            * (CASE WHEN x < 0 THEN -1 ELSE 1 END)) AS q2
            FROM (
                -- greatest(.., 1): zero-vector guard, twin of the
                -- np.maximum(n, 1.0) in kernels.pq_quantize
                SELECT vec_id, q1,
                       greatest(
                           sqrt(cast(list_sum(list_transform(q1,
                                                             x -> x * x))
                                     AS double)), 1) AS n
                FROM q1t
            )
        )"""


def _pq_codes_ctes() -> str:
    """Shared CTE block: normalize-then-quantize vectors, subvector
    slices, codebook, integer subdistances, argmin code assignment
    (ties to lowest code id), and the per-query LUT. Used by both the
    flat-scan PQ oracle and the IVF-composed one."""
    return f"""idx AS (SELECT unnest(range({M_SUB})) AS m),
{_NORM_QUANT_CTES},
        qv AS (
            SELECT vec_id, m,
                   list_slice(q2, m * {D_SUB} + 1, (m + 1) * {D_SUB}) AS sub
            FROM qn CROSS JOIN idx
        ),
        cb AS (
            SELECT vec_id - {PQ_CB_BASE} AS cid, m, sub
            FROM qv
            WHERE vec_id >= {PQ_CB_BASE} AND vec_id < {PQ_CB_BASE + K_CODES}
        ),
        d2 AS (
            SELECT v.vec_id, v.m, b.cid,
                   cast(list_sum(list_transform(list_zip(v.sub, b.sub),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS bigint)
                       AS dist
            FROM qv v JOIN cb b USING (m)
        ),
        codes AS (
            SELECT vec_id, m, cid FROM (
                SELECT vec_id, m, cid,
                       row_number() OVER (PARTITION BY vec_id, m
                                          ORDER BY dist, cid) AS rn
                FROM d2
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT vec_id AS query_id, m, cid, dist
            FROM d2 WHERE vec_id < {N_QUERIES}
        )"""


def _pq_rerank_tail(shortlist_n: int) -> str:
    """Shared tail: ADC shortlist window, exact-cosine rerank, final
    top-K with neighbor-id tie-break."""
    return f""",
        shortlist AS (
            SELECT query_id, neighbor_id
            FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY adist, neighbor_id)
                           AS srank
                FROM scores
            )
            WHERE srank <= {shortlist_n}
        ),
        exact AS (
            SELECT s.query_id, s.neighbor_id,
                   {oracle_cosine('q.embedding', 'n.embedding')} AS cos
            FROM shortlist s
            JOIN embeddings q ON q.vec_id = s.query_id
            JOIN embeddings n ON n.vec_id = s.neighbor_id
        )
        SELECT query_id, cast(rank AS int) AS rank, neighbor_id, cos
        FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id)
                       AS rank
            FROM exact
        )
        WHERE rank <= {TOP_K}
    """


def _pq_oracle_sql() -> str:
    """SQL twin of the flat-scan PQ: the same normalize-then-quantize
    op sequence (decimal(9,7) quantize -> exact integer norm -> IEEE
    sqrt/divide -> floor(abs(x/n)*1e7+0.5)*sign requantize), identical
    integer subdistances, LUT-sum ADC scores, exact rerank."""
    return f"""
        WITH {_pq_codes_ctes()},
        scores AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   cast(sum(l.dist) AS bigint) AS adist
            FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
            WHERE c.vec_id <> l.query_id
            GROUP BY 1, 2
        ){_pq_rerank_tail(PQ_SHORTLIST)}"""


def _ivfpq_oracle_sql() -> str:
    """SQL twin of the IVF+PQ composition: the IVF oracle's
    decimal-exact centroid probe restricts which (query, cell) pairs
    are scored; the PQ CTEs supply codes and LUTs; scores exist only
    inside probed cells; exact rerank on the (smaller) shortlist."""
    return f"""
        WITH {_pq_codes_ctes()},
        exploded AS (
            SELECT label,
                   unnest(embedding) AS x,
                   unnest(generate_series(1, len(embedding))) AS dim
            FROM embeddings
        ),
        per_dim AS (
            SELECT label, dim,
                   cast(cast(sum(cast(cast(x AS double) AS decimal(30,15)))
                             AS varchar) AS double) / count(*) AS mean_x
            FROM exploded GROUP BY label, dim
        ),
        cents AS (
            SELECT label, list(mean_x ORDER BY dim) AS centroid
            FROM per_dim GROUP BY label
        ),
        qq AS (
            SELECT vec_id AS query_id, embedding AS qe
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        probed AS (
            SELECT query_id, label
            FROM (
                SELECT qq.query_id, c.label,
                       row_number() OVER (
                           PARTITION BY qq.query_id
                           ORDER BY {oracle_cosine('qq.qe', 'c.centroid')}
                                    DESC, c.label
                       ) AS cell_rank
                FROM qq CROSS JOIN cents c
            )
            WHERE cell_rank <= {NPROBE}
        ),
        scores AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   cast(sum(l.dist) AS bigint) AS adist
            FROM codes c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN probed p ON p.label = e.label
            JOIN lut l ON l.m = c.m AND l.cid = c.cid
                      AND l.query_id = p.query_id
            WHERE c.vec_id <> l.query_id
            GROUP BY 1, 2
        ){_pq_rerank_tail(PQ_IVF_SHORTLIST)}"""


QUERIES = {
    "sim_bruteforce_topk": sim_bruteforce_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_prefix_topk": sim_prefix_topk,
    "sim_filtered_topk": sim_filtered_topk,
    "sim_ivfpq_topk": sim_ivfpq_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_kmeans_topk": sim_ivf_kmeans_topk,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_range_search": sim_range_search,
    "sim_knn_join": sim_knn_join,
    "sim_hard_negatives": sim_hard_negatives,
    "sim_ann_recall_eval": sim_ann_recall_eval,
    "embed_pca_power": embed_pca_power,
    "decontaminate_semantic": decontaminate_semantic,
    "sim_sq8_topk": sim_sq8_topk,
}


def _sq8_oracle_sql() -> str:
    """DuckDB twin of sim_sq8_topk: the shared normalize-quantize
    grid, per-dimension integer min/range stats, one-floor-division
    codes, exact-integer asymmetric reconstruction dot, then the
    shared shortlist + exact-cosine rerank tail."""
    return f"""
        WITH {_NORM_QUANT_CTES},
        vals AS (
            SELECT vec_id,
                   cast(unnest(generate_series(1, len(q2))) - 1
                        AS integer) AS pos,
                   unnest(q2) AS v
            FROM qn WHERE len(q2) = {EMBEDDING_DIM}
        ),
        stats AS (
            SELECT pos, min(v) AS minq,
                   greatest(max(v) - min(v), 1) AS rng
            FROM vals GROUP BY pos
        ),
        codes AS (
            SELECT vec_id, vals.pos,
                   ((v - minq) * 255) // rng AS code
            FROM vals JOIN stats USING (pos)
        ),
        scores AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   -cast(sum(q.v * (s.minq * 255 + c.code * s.rng))
                         AS bigint) AS adist
            FROM (SELECT * FROM vals WHERE vec_id < {N_QUERIES}) q
            JOIN codes c ON q.vec_id <> c.vec_id AND q.pos = c.pos
            JOIN stats s ON s.pos = c.pos
            GROUP BY 1, 2
        ){_pq_rerank_tail(SQ_SHORTLIST)}
    """


def _semantic_decon_oracle_sql() -> str:
    """DuckDB twin of decontaminate_semantic: the shared LSH fragments
    (_lsh_sql_parts) regenerate identical signatures; the train side
    takes plain per-table buckets, the bench side the multi-probe
    fan-out, then exact rounded cosine, per-train-vector candidate
    count + best neighbor, threshold filter."""
    sig_cols, corpus_buckets, probe_buckets = _lsh_sql_parts()
    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, {sig_cols}
            FROM embeddings
            WHERE len(embedding) = {EMBEDDING_DIM}
        ),
        train AS (
            SELECT vec_id AS train_id,
                   unnest([{corpus_buckets}]) AS bucket
            FROM sigs WHERE vec_id % {SEM_DECON_MOD} <> 0
        ),
        bench AS (
            SELECT vec_id AS bench_id,
                   unnest([{probe_buckets}]) AS bucket
            FROM sigs WHERE vec_id % {SEM_DECON_MOD} = 0
                  AND vec_id < {SEM_BENCH_CAP}
        ),
        pairs AS (
            SELECT DISTINCT t.train_id, b.bench_id
            FROM train t JOIN bench b USING (bucket)
        ),
        scored AS (
            SELECT pr.train_id, pr.bench_id,
                   {oracle_cosine('q.embedding', 'n.embedding')} AS cos
            FROM pairs pr
            JOIN embeddings q ON q.vec_id = pr.train_id
            JOIN embeddings n ON n.vec_id = pr.bench_id
        ),
        ranked AS (
            SELECT train_id, bench_id, cos,
                   cast(count(*) OVER (PARTITION BY train_id)
                        AS bigint) AS n_bench_candidates,
                   row_number() OVER (PARTITION BY train_id
                                      ORDER BY cos DESC, bench_id)
                       AS rk
            FROM scored
        )
        SELECT train_id AS vec_id, n_bench_candidates,
               bench_id AS best_bench_id, cos
        FROM ranked
        WHERE rk = 1 AND cos >= {SEM_DECON_THRESHOLD}
        ORDER BY vec_id
    """


def _bf_oracle_sql() -> str:
    return f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   {oracle_cosine('q.embedding', 'n.embedding')} AS cos
            FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN embeddings n
            WHERE q.vec_id <> n.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, cast(rank AS int) AS rank, neighbor_id, cos
        FROM ranked WHERE rank <= {TOP_K}
    """


ORACLES = {
    "embed_pca_power": _pca_oracle_sql(),
    "sim_pq_topk": _pq_oracle_sql(),
    "sim_prefix_topk": _prefix_oracle_sql(),
    "sim_filtered_topk": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   {oracle_cosine('q.embedding', 'n.embedding')} AS cos
            FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN (SELECT * FROM embeddings
                        WHERE label >= {FILTER_MIN_LABEL}) n
            WHERE q.vec_id <> n.vec_id
        )
        SELECT query_id, cast(rank AS int) AS rank, neighbor_id, cos
        FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        WHERE rank <= {TOP_K}
    """,
    "sim_ivfpq_topk": _ivfpq_oracle_sql(),
    "sim_bruteforce_topk": _bf_oracle_sql(),
    # Full LSH twin (upgraded from rows-only in r3): quantized-integer
    # sign bits make the bucket assignment SQL-expressible; the seeded
    # hyperplanes are regenerated and inlined as literals.
    "sim_lsh_topk": _lsh_oracle_sql(),
    # Recall audit: exact ground truth (bf) LEFT JOIN the index's
    # answer set (ax) on (query, neighbor); per-query hit fraction.
    "sim_ann_recall_eval": f"""
        WITH bf AS ({_bf_oracle_sql()}),
        ax AS ({_lsh_oracle_sql()})
        SELECT bf.query_id,
               count(ax.neighbor_id) AS n_hits,
               cast(count(ax.neighbor_id) AS double) / count(*) AS recall
        FROM bf LEFT JOIN ax
          ON bf.query_id = ax.query_id AND bf.neighbor_id = ax.neighbor_id
        GROUP BY bf.query_id
        ORDER BY bf.query_id
    """,
    "sim_hard_negatives": _lsh_oracle_sql(label_negatives=True),
    "decontaminate_semantic": _semantic_decon_oracle_sql(),
    "sim_sq8_topk": _sq8_oracle_sql(),
    # Full learned-k-means twin (upgraded from rows-only in r3):
    # Lloyd's loop unrolled as chained CTE stages — see
    # _kmeans_oracle_sql.
    "sim_ivf_kmeans_topk": _kmeans_oracle_sql(),
    # Full IVF twin: decimal-exact per-(label,dim) centroid means
    # (varchar-parsed decimal->double = Spark's correctly-rounded
    # BigDecimal cast), NPROBE cell probe by rounded quantized cosine,
    # exact rank within probed cells. Upgraded from rows-only in r3 —
    # the whole plan is SQL-expressible because init and means are
    # deterministic (unlike the learned-k-means variant, which stays
    # rows-only + pytest recall contract).
    "sim_ivf_topk": f"""
        WITH exploded AS (
            SELECT label,
                   unnest(embedding) AS x,
                   unnest(generate_series(1, len(embedding))) AS dim
            FROM embeddings
        ),
        per_dim AS (
            SELECT label, dim,
                   cast(cast(sum(cast(cast(x AS double) AS decimal(30,15)))
                             AS varchar) AS double) / count(*) AS mean_x
            FROM exploded GROUP BY label, dim
        ),
        cents AS (
            SELECT label, list(mean_x ORDER BY dim) AS centroid
            FROM per_dim GROUP BY label
        ),
        q AS (
            SELECT vec_id AS query_id, embedding AS qe
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        probed AS (
            SELECT query_id, qe, label
            FROM (
                SELECT q.query_id, q.qe, c.label,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {oracle_cosine('q.qe', 'c.centroid')}
                                    DESC, c.label
                       ) AS cell_rank
                FROM q CROSS JOIN cents c
            )
            WHERE cell_rank <= {NPROBE}
        ),
        scored AS (
            SELECT p.query_id, e.vec_id AS neighbor_id,
                   {oracle_cosine('p.qe', 'e.embedding')} AS cos
            FROM probed p JOIN embeddings e ON p.label = e.label
            WHERE p.query_id <> e.vec_id
        )
        SELECT query_id, cast(rank AS int) AS rank, neighbor_id, cos
        FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id)
                       AS rank
            FROM scored
        )
        WHERE rank <= {TOP_K}
    """,
    "sim_range_search": f"""
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               {oracle_cosine('q.embedding', 'n.embedding')} AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN embeddings n
        WHERE q.vec_id <> n.vec_id
          AND {oracle_cosine('q.embedding', 'n.embedding')} >= {RANGE_THRESHOLD}
    """,
    # KNN self-join twin: learned-quantizer cells (unrolled-Lloyd CTE
    # chain from functions/blocks.py), then an argmax ordered by the
    # UNROUNDED quantized cosine (bit-identical to the kernel's exact
    # Gram matrix), ties to the lowest neighbor id; only the reported
    # cos is rounded.
    "sim_knn_join": f"""
        WITH {block_cells_oracle_ctes()},
        scored AS (
            SELECT ca.cell AS cell, a.vec_id AS vec_id,
                   b.vec_id AS nn_id,
                   {_unrounded_cos('a.embedding', 'b.embedding')} AS rawcos
            FROM embeddings a
            JOIN cells ca ON a.vec_id = ca.vec_id
            JOIN cells cb ON ca.cell = cb.cell
            JOIN embeddings b
              ON b.vec_id = cb.vec_id AND a.vec_id <> b.vec_id
        )
        SELECT cast(cell AS int) AS cell, vec_id, nn_id,
               round(rawcos, 9) AS cos
        FROM (
            SELECT cell, vec_id, nn_id, rawcos,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY rawcos DESC, nn_id) AS rk
            FROM scored
        )
        WHERE rk = 1
    """,
}
