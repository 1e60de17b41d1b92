"""Document deduplication suite (north-star extension; BASELINE.json).

Five dedup strategies over the ``documents`` table, each the standard
shape a 100 TB training-data pipeline uses:

- **exact**: hash-groupBy on content digest — one shuffle on the hash,
  arbitrarily parallel.
- **n-gram Jaccard**: exact pairwise similarity via shingle inverted
  index (explode -> self-join on shingle -> per-pair overlap counts).
  Quadratic in the worst case — the ground-truth/verification path, not
  the scale path.
- **MinHash + LSH**: the scale path. Signatures are pure per-row
  higher-order expressions (no shuffle, no Python); banding turns
  near-dup search into an equality groupBy on (band, key) — candidate
  pairs only where a band collides. At 100 TB this is the only
  strategy whose shuffle volume is O(docs x bands), independent of
  pair count.
- **SimHash**: per-row 16-bit signature from word hashes; identical
  signatures -> near-dup buckets. Cheapest, coarsest.
- **embedding cosine**: near-dup by semantic similarity; pairs pruned
  to same-label blocks (IVF-style blocking) before the exact cosine.

MinHash functions are min over md5(seed || shingle) — a valid min-wise
family over the hex-string order, chosen because every engine computes
md5 identically (so DuckDB can oracle-check the whole pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions import kernels
from real_time_streaming_system_with_apache_kafka_spark.functions.arrays import (
    oracle_cosine,
)
from real_time_streaming_system_with_apache_kafka_spark.functions.blocks import (
    block_cells_oracle_ctes,
    salted_block_union,
    with_block_cells,
    with_multiprobe_cells,
)
from real_time_streaming_system_with_apache_kafka_spark.functions.memo import (
    corpus_state,
)
from real_time_streaming_system_with_apache_kafka_spark.functions.ngrams import (
    regex_word_ngrams,
)
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

N_HASHES = 8
BAND_ROWS = 2  # 4 bands x 2 rows: catches Jaccard >~ 0.5 reliably
JACCARD_THRESHOLD = 0.5
# Calibrated to the synthetic fixtures (near-orthogonal random vectors,
# max same-label cosine ~0.51): 0.35 yields a non-empty near-dup set at
# every SF so the oracle check is not vacuous. Real embedding corpora
# run this dial at 0.9+; the kernel is threshold-agnostic.
COSINE_THRESHOLD = 0.35


def _words() -> Column:
    return F.split(F.col("text"), " ")


# CASE mirrors the Spark clamp: <3-word docs yield the whole text as
# one shingle (a bare range(1, len-1) would yield [] and silently drop
# the document from the oracle).
_ORACLE_SHINGLES = """
    SELECT doc_id,
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                      for i in range(1, len(words) - 1)]
           END AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id
    (deterministic survivor), report group size."""
    docs = load(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies", "content_hash")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs >= 0.5 via shingle inverted index.

    |A ∩ B| from the self-join on distinct shingles; |A ∪ B| =
    |A| + |B| - |A ∩ B|. Jaccard is a ratio of exact integers, so the
    doubles are engine-identical.
    """
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select(
        "doc_id", F.explode(
            F.array_distinct(regex_word_ngrams(F.col("text"), 3))
        ).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, distinct-shingle array) — the shared input of the LSH
    signature path and the exact-Jaccard verify stage.

    The repartition decouples compute parallelism from input file
    layout — a single small parquet file must not serialize the
    shingle kernel onto one task (and at 100 TB it is noise next to
    the scan). Shingling happens AFTER the exchange so it runs at full
    width."""
    return (
        load(spark, "documents", sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.array_distinct(regex_word_ngrams(F.col("text"), 3)).alias("sh"),
        )
    )


def _lsh_pairs(sh: DataFrame) -> DataFrame:
    """LSH candidate pairs with signature-agreement estimate, from an
    EXPLODED (doc_id, s) shingle DataFrame. The caller keeps the whole
    shingle expression INSIDE the generator (InferFiltersFromGenerate
    skips complex generators — with a plain column reference, the
    inferred ``size(sh) > 0`` filter is substituted through the
    projection and pushed below the repartition, re-evaluating the full
    shingle transform on the single-task scan: a measured 3x
    regression)."""
    # Signatures via explode -> one codegen'd projection of all
    # n_hashes md5 columns -> partial-min aggregation. Equivalent to
    # the per-row `minhash_signature` helper (min over the same set)
    # but ~8x faster: higher-order array lambdas are interpreted,
    # while this path stays in whole-stage codegen with map-side
    # combine on the min.
    hcols = [
        F.md5(F.concat(F.lit(f"{i}|"), F.col("s"))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    sig = (
        sh.select("doc_id", *hcols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(N_HASHES)])
        .select("doc_id", F.array(*[f"h{i}" for i in range(N_HASHES)]).alias("sig"))
    )
    n_bands = N_HASHES // BAND_ROWS
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at("sig", bi * BAND_ROWS + ri + 1)
                                for ri in range(BAND_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    ) / float(N_HASHES)
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidate pairs: band-key equality groupBy (the
    O(docs) scale path), then exact-signature agreement fraction as the
    similarity estimate."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return _lsh_pairs(
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(regex_word_ngrams(F.col("text"), 3))
            ).alias("s"),
        )
    )


def simhash16(text: Column) -> Column:
    """16-bit SimHash of a text column: bit j is the sign of sum over
    distinct words of (+1 if hex digit j of md5(word) >= '8' else -1)
    — string-only bit extraction so every engine agrees. A pure
    per-row expression, equally valid in a batch or streaming plan."""
    words = F.split(text, " ")
    # Hash every word ONCE, then derive all 16 bits from the cached hex
    # digits — hashing inside each per-bit loop would md5 each word 16x.
    hashes = F.transform(F.array_distinct(words), lambda w: F.md5(w))

    def bit_contrib(j: int):
        # Closure (not default-arg) so F.transform sees a unary lambda.
        return lambda h: F.when(
            F.substring(h, j + 1, 1).isin(*"89abcdef"), 1
        ).otherwise(-1)

    bits = []
    for j in range(16):
        tally = F.aggregate(
            F.transform(hashes, bit_contrib(j)), F.lit(0), lambda acc, v: acc + v
        )
        bits.append(F.when(tally >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash buckets over the corpus; groups with >1 doc are
    near-dup buckets."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return (
        docs.select("doc_id", simhash16(F.col("text")).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def make_block_cosine_kernel(threshold: float):
    """Blocked-GEMM cosine kernel for ``applyInPandas``.

    Per (block, salt) group: probe rows (this salt's vectors) x all
    block vectors through ``kernels.cosine_matrix`` — one BLAS matmul
    on 7dp-quantized integers, exact and bit-identical to the DuckDB
    decimal(9,7) oracle. Emits only pairs with raw cosine above
    ``threshold`` minus a half-ulp-of-9dp margin; the caller applies
    the authoritative JVM-side round + filter.
    """

    def block_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "block": pd.Series([], dtype="int32"),
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        probe_mask = pdf["is_probe"].values
        if not probe_mask.any():
            return empty

        a, b = pdf[probe_mask], pdf[~probe_mask]
        C = kernels.cosine_matrix(
            kernels.stack_rows(a["embedding"].values),
            kernels.stack_rows(b["embedding"].values),
        )
        ids_a, ids_b = a["vec_id"].values, b["vec_id"].values
        # Emit (x, y) only when x < y and x is a probe row: each pair
        # surfaces in exactly one (block, salt(x)) group.
        ii, jj = np.nonzero((ids_a[:, None] < ids_b[None, :]) & (C >= threshold - 1e-9))
        if len(ii) == 0:
            return empty
        return pd.DataFrame(
            {
                "block": np.full(len(ii), pdf["block"].iloc[0]),
                "vec_a": ids_a[ii],
                "vec_b": ids_b[jj],
                "cos": C[ii, jj],
            }
        )

    return block_pairs


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: learned coarse-quantizer blocking
    (re-specced r6, VERDICT r5 #2 — cells from the count-derived
    spherical k-means in functions/blocks.py, k = ceil(sqrt(N)), not
    the fixture's fixed-cardinality ``label``), then exact quantized
    cosine >= threshold inside each cell via a blocked-GEMM
    ``applyInPandas`` kernel. Near-dup pairs straddling a cell
    boundary are the deliberate IVF recall tradeoff — measured by the
    recall audit in tests/test_r3_extensions.py, not asserted away.

    Scale shape: per-cell GEMM work is O(cell^2) with cell ~ sqrt(N),
    so total work is O(N^1.5) and the last-decade ratio stays bounded
    where label blocking went quadratic. Side A carries a
    deterministic salt, side B is replicated across all salts, so
    each (block, salt) group is one Arrow batch -> one BLAS matmul.
    The quadratic pair set exists only inside numpy — never shuffled,
    never materialized as Spark rows — and the group output is just
    the surviving near-dup pairs. Shuffle volume is
    O(corpus x n_salts) narrow rows.
    """
    return _cosine_pairs(spark, sf_dir, COSINE_THRESHOLD)


def _cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    emb: DataFrame | None = None,
) -> DataFrame:
    """Shared salted-block GEMM pair derivation (see
    dedup_embedding_cosine for the shape argument): exact quantized
    cosine pairs (vec_a < vec_b) at ``threshold`` within learned
    quantizer cells, rounded JVM-side. Callers that already hold the
    embeddings scan pass it via ``emb`` so one job never reads the
    corpus twice."""
    if emb is None:
        emb = load(spark, "embeddings", sf_dir)
    raw = (
        salted_block_union(
            with_block_cells(emb),
            spark.sparkContext.defaultParallelism,
        )
        .groupBy("block", "salt")
        .applyInPandas(
            make_block_cosine_kernel(threshold),
            "block int, vec_a long, vec_b long, cos double",
        )
    )
    return (
        raw.withColumn("cos", F.round("cos", 9))
        .filter(F.col("cos") >= threshold)
        .select(F.col("block").alias("cell"), "vec_a", "vec_b", "cos")
    )


DEDUP_NPROBE = 2  # multi-probe cell memberships per vector


def dedup_embedding_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe embedding near-dup pairs: each vector belongs to
    its DEDUP_NPROBE nearest quantizer cells, so near-dup pairs that
    straddle a single-probe cell boundary are recovered whenever the
    two vectors share ANY of their cells — the standard IVF recall
    knob (Faiss ``nprobe``), exposed as its own operator so the
    recall/cost tradeoff against dedup_embedding_cosine is a measured
    choice, not a buried constant.

    Scale shape: identical to the single-probe kernel except the
    blocked corpus carries nprobe rows per vector — work and shuffle
    scale by the nprobe factor (2x here), still O(N^1.5) total under
    k = ceil(sqrt(N)). A pair sharing BOTH cells is emitted twice with
    bit-identical cosines (same exact integer Gram arithmetic in both
    groups), so the final ``distinct`` is an exact dedup, never a
    value merge. Output drops the cell id (a pair's witness cell is
    not unique under multi-probe)."""
    emb = load(spark, "embeddings", sf_dir)
    raw = (
        salted_block_union(
            with_multiprobe_cells(emb, DEDUP_NPROBE),
            spark.sparkContext.defaultParallelism,
        )
        .groupBy("block", "salt")
        .applyInPandas(
            make_block_cosine_kernel(COSINE_THRESHOLD),
            "block int, vec_a long, vec_b long, cos double",
        )
    )
    return (
        raw.withColumn("cos", F.round("cos", 9))
        .filter(F.col("cos") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cos")
        .distinct()
    )


# SemDeDup drop threshold, calibrated like COSINE_THRESHOLD to the
# synthetic fixture's cosine range (max same-label cosine ~0.51) so
# the decision set is non-trivial at every SF; real corpora run ~0.95+.
SEMDEDUP_THRESHOLD = 0.4


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding similarity within quantizer cells — a
    vector is DROPPED when some lower-id cell-mate sits above the
    cosine threshold (deterministic min-id survivor per near-dup
    relation), giving a per-vector keep/drop decision table rather
    than a pair list. Since r6 the cells are the LEARNED count-derived
    k-means cells (functions/blocks.py) — exactly the paper's
    formulation, which clusters the corpus and dedups within clusters,
    rather than the r3-r5 stand-in that reused the fixture ``label``.

    Scale shape: the same salted-block GEMM as dedup_embedding_cosine
    (quadratic work confined to per-cell numpy, O(N^1.5) total under
    k = ceil(sqrt(N))), then one distinct on the dropped side and a
    left anti-ish join back to the corpus spine — shuffles are
    O(pairs above threshold) + O(corpus), never O(corpus^2)."""
    emb = load(spark, "embeddings", sf_dir)
    dropped = (
        _cosine_pairs(spark, sf_dir, SEMDEDUP_THRESHOLD, emb=emb)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        emb.select("label", "vec_id")
        .join(dropped, "vec_id", "left")
        .select(
            "label", "vec_id", F.col("dropped").isNull().alias("keep")
        )
    )


CC_MAX_ITERS = 12  # pointer jumping: components of diameter <= 2^12
# Edge qualification: >= half the minhash signature must agree —
# est_jaccard >= 0.5 mirrors JACCARD_THRESHOLD on the scale path.
CC_EDGE_EST = 0.5


def _dup_edges(
    spark: SparkSession, sf_dir: str, st: dict | None = None
) -> DataFrame:
    """Undirected near-dup graph shared by the dup-graph operator
    family — the MinHash-LSH candidate pairs qualified at
    ``CC_EDGE_EST`` signature agreement, symmetrized to (src, dst).
    One definition so the graph operators can never desynchronize.

    Checkpointed once per corpus per session in the documents state
    ``st`` (fetched here when the caller holds none): the LSH banding
    join runs once, not once per graph operator."""
    if st is None:
        st = corpus_state(load(spark, "documents", sf_dir), "doc_id", "text")
    if "edges" not in st:
        pairs = (
            dedup_minhash_lsh(spark, sf_dir)
            .filter(F.col("est_jaccard") >= CC_EDGE_EST)
            .select("doc_a", "doc_b")
        )
        st["edges"] = (
            pairs.union(
                pairs.select(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                )
            )
            .toDF("src", "dst")
            .checkpoint(eager=True)
        )
    return st["edges"]


def dedup_cc_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters -> canonical survivors: connected components
    over the MinHash-LSH candidate pairs (the O(docs) scale path — at
    100 TB there IS no exact pair set to cluster), each component
    labeled by its minimum doc_id, every document mapped to its
    component with an ``is_survivor`` flag (the pipeline step that
    turns pairwise dedup output into a keep/drop decision).

    Spark-first iterative algorithm (the shape GraphFrames CC uses):
    min-label propagation with pointer jumping, so convergence takes
    O(log diameter) rounds, not O(diameter). Per round: one join to
    pull neighbor labels, one self-join to jump ``label -> label's
    label``, and a scalar count for the convergence test — the ONLY
    thing that ever reaches the driver. A checkpoint truncates the
    growing lineage each round.
    """
    docs = load(spark, "documents", sf_dir)
    st = corpus_state(docs, "doc_id", "text")
    labels = _cc_labels(spark, sf_dir, docs, st)
    return labels.select(
        "doc_id",
        F.col("label").alias("component"),
        (F.col("doc_id") == F.col("label")).alias("is_survivor"),
    )


def _cc_labels(
    spark: SparkSession, sf_dir: str, docs: DataFrame, st: dict
) -> DataFrame:
    """Pointer-jumping min-label propagation over the memoized dup
    edge set (see dedup_cc_survivors for the algorithm argument).

    The iteration runs over the DUP SUBGRAPH only — vertices with at
    least one LSH edge — because a singleton's label is its own id
    forever; the corpus spine joins back in once at the end. On a real
    corpus the LSH edge set is sparse (near-dup docs are a small
    fraction), so the per-round joins touch a frame orders of
    magnitude smaller than the corpus — the difference between
    iterating over 100 TB twelve times and iterating over the dup
    graph twelve times.

    The FINAL label frame is kept in the documents state ``st`` (three
    operators consume it: CC survivors, quality survivor via
    dedup_cc_survivors, cluster-safe split)."""
    if "cc_labels" in st:
        final = st["cc_labels"].select("doc_id", "label")
        return docs.select("doc_id").join(final, "doc_id", "left").select(
            "doc_id", F.coalesce("label", "doc_id").alias("label")
        )
    edges = _dup_edges(spark, sf_dir, st)
    verts = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = verts.select(
        "doc_id", F.col("doc_id").alias("label")
    ).checkpoint(eager=True)
    for _ in range(CC_MAX_ITERS):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("nbr_label")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nbr_label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # Pointer jumping: label <- label(label); halves path lengths.
        # old_label rides along so the convergence test is a plain
        # filter over the checkpointed rows — no extra join per round.
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("doc_id").alias("l_id"), F.col("label").alias("l_label")
                ),
                F.col("s.label") == F.col("l_id"),
                "left",
            )
            .select(
                F.col("s.doc_id").alias("doc_id"),
                F.col("s.old_label").alias("old_label"),
                F.coalesce("l_label", "s.label").alias("label"),
            )
            .checkpoint(eager=True)
        )
        changed = jumped.filter(F.col("label") != F.col("old_label")).count()
        labels = jumped.select("doc_id", "label")
        if changed == 0:
            break
    st["cc_labels"] = labels
    # Singletons rejoin the spine with label = their own id.
    return docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )


SPLIT_TAG = "cluster_split_v1"  # salt: re-rolls the split assignment
SPLIT_TEST_PCT = 20  # test share in percent


def _md5_split(col, tag: str = SPLIT_TAG):
    """Deterministic md5 split bucket (the experiment_ab_lift hash)."""
    h6 = F.substring(
        F.md5(F.concat_ws("#", F.lit(tag), col.cast("string"))), 1, 6
    )
    return F.when(
        F.pmod(F.conv(h6, 16, 10).cast("bigint"), F.lit(100))
        < SPLIT_TEST_PCT,
        "test",
    ).otherwise("train")


def sample_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-safe train/test split: assign WHOLE near-dup clusters
    (the dedup_cc_survivors connected components) to one side by
    hashing the COMPONENT id, so no near-duplicate pair can straddle
    the split — the leakage mode a naive per-document hash split
    cannot prevent (a train doc's near-copy landing in test inflates
    eval). Output: per-split doc/cluster counts plus the audit that IS
    the point — the number of LSH candidate pairs crossing the split
    under this assignment (0 BY CONSTRUCTION: both endpoints share a
    component, components never split) next to the crossing count the
    naive per-doc split of the SAME corpus would have admitted.
    Companion to sample_temporal_split (which audits entity leakage
    across a time cutoff; this audits content leakage).

    Scale shape: component labels from the pointer-jumping CC; the
    split is a per-row hash of the label (no assignment table — the
    experiment_ab_lift property); the audit joins the LSH-bounded edge
    set to doc-grain labels on doc_id, then one global 1-row
    aggregate broadcast back onto the 2-row per-split summary. The
    LSH banding join that produces the edges runs ONCE: the same
    checkpointed edge frame feeds both the CC rounds (via _cc_labels)
    and the audit's crossing join — the r5 form recomputed it for the
    audit and paid the whole banding stage twice. The labeled frame's
    three consumers share its doc_id shuffle through Spark's exchange
    reuse."""
    docs = load(spark, "documents", sf_dir)
    st = corpus_state(docs, "doc_id", "text")
    edges = _dup_edges(spark, sf_dir, st)
    comp = _cc_labels(spark, sf_dir, docs, st).select(
        "doc_id", F.col("label").alias("component")
    )
    labeled = comp.select(
        "doc_id",
        "component",
        _md5_split(F.col("component")).alias("split"),
        _md5_split(F.col("doc_id")).alias("naive_split"),
    )
    und = edges.filter(F.col("src") < F.col("dst"))
    crossing = (
        und.join(
            labeled.select(
                F.col("doc_id").alias("src"),
                F.col("split").alias("sa"),
                F.col("naive_split").alias("na"),
            ),
            "src",
        )
        .join(
            labeled.select(
                F.col("doc_id").alias("dst"),
                F.col("split").alias("sb"),
                F.col("naive_split").alias("nb"),
            ),
            "dst",
        )
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.count_if(F.col("sa") != F.col("sb")).alias(
                "cross_pairs_cluster"
            ),
            F.count_if(F.col("na") != F.col("nb")).alias(
                "cross_pairs_naive"
            ),
        )
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("component").alias("n_components"),
        )
        .crossJoin(F.broadcast(crossing))
        .orderBy("split")
    )


def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster
    (the same connected components as ``dedup_cc_survivors``), keep the
    HIGHEST-QUALITY copy instead of the lowest doc_id — the survivor
    policy production dedup actually wants (the canonical page, not
    whichever mirror crawled first). Quality is the integer Gopher
    rule-pass count (0-6, shared with the curation gates so the two
    layers agree by construction), tie-broken by n_chars descending
    (prefer the fullest copy) then doc_id ascending (determinism).

    Scale shape: the component labels come from the pointer-jumping CC
    (log-round iterative); the quality score is a per-row codegen
    expression on the corpus scan; survivor election is ONE window
    shuffle keyed on component over narrow (component, score, n_chars,
    doc_id) rows. Nothing corpus-sized reaches the driver.
    """
    from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (
        gopher_score_column,
    )

    comp = dedup_cc_survivors(spark, sf_dir).select("doc_id", "component")
    docs = load(spark, "documents", sf_dir).select(
        "doc_id", "n_chars", gopher_score_column().alias("quality_score")
    )
    joined = comp.join(docs, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.desc("n_chars"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        "component",
        "quality_score",
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


PR_ITERS = 4  # fixed-round PageRank (unrolled in the oracle)


def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of dropping duplicates, every document gets
    sampling weight 1/n_copies of its duplicate group (ppm, integral
    arithmetic) — the corpus-frequency downweighting used when hard
    removal is too blunt (repetition studies show a few epochs of
    high-quality dups help; dropping forfeits that). Composes with
    the mixing layer: a sampler multiplies these ppm weights with the
    per-source mix weights. Groups key on the word-order-insensitive
    fingerprint (sorted distinct words — where the fixture's dup
    groups actually live, same key as the datamix layer).

    One hash-agg on the fingerprint digest + one narrow re-join keyed
    on the digest — the same two-exchange shape as dedup_exact plus
    the weight projection."""
    docs = load(spark, "documents", sf_dir)
    hashed = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
        ).alias("content_hash"),
    )
    groups = hashed.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    return (
        hashed.join(groups, "content_hash")
        .select(
            "doc_id",
            "n_copies",
            F.expr("1000000 div n_copies").alias("weight_ppm"),
        )
        .orderBy("doc_id")
    )


def graph_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the duplicate-candidate graph (the
    undirected LSH pair set CC clusters): which documents sit at the
    center of near-dup neighborhoods — the "canonical-ness" signal a
    curation pipeline uses to pick survivors by authority rather than
    min-id.

    Spark-first iterative shape (the Pregel-on-DataFrames pattern):
    per round ONE join (scores to edges) and ONE aggregation (sum of
    contributions per destination), with a checkpoint truncating
    lineage; a FIXED iteration count so nothing but the final top-100
    ever reaches the driver. Per-edge contributions are quantized to
    integer 1e-9 units (floor over bit-identical doubles — engine-safe,
    same trick as tpch_full's derived supply view), so each round's
    sums are exact integers in any order and the next round's scores
    are bit-identical on any cluster size AND in the DuckDB oracle,
    which unrolls the same fixed rounds as chained CTEs — the
    iterative-operator-with-exact-oracle standard set by ts_ewma_exact
    and sim_ivf_kmeans_topk."""
    edges = _dup_edges(spark, sf_dir)
    nodes = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    score = nodes.select(F.col("src").alias("doc_id"), "deg", F.lit(1.0).alias("score"))
    for _iter in range(PR_ITERS):
        contribs = edges.join(
            score.select(F.col("doc_id").alias("src"), "deg", "score"), "src"
        ).select(
            "dst",
            F.floor(F.col("score") / F.col("deg") * F.lit(1000000000.0))
            .cast("bigint")
            .alias("c"),
        )
        sums = contribs.groupBy(F.col("dst").alias("doc_id")).agg(
            F.sum("c").alias("sum_c")
        )
        score = (
            score.select("doc_id", "deg")
            .join(sums, "doc_id", "left")
            .select(
                "doc_id",
                "deg",
                (
                    F.lit(0.15)
                    + F.lit(0.85)
                    * (
                        F.coalesce(F.col("sum_c"), F.lit(0)).cast("double")
                        / F.lit(1000000000.0)
                    )
                ).alias("score"),
            )
        )
        if (_iter + 1) % 2 == 0:
            # Checkpoint every OTHER round: an eager materialization
            # per round paid a job launch each iteration for lineage
            # that two rounds of (join + agg) don't yet need truncated;
            # every-2 keeps plans bounded at the same asymptotic cost
            # (measured ~0.6 s/round saved at sf0.1).
            score = score.checkpoint(eager=True)
    return (
        score.select("doc_id", F.col("deg").alias("n_neighbors"), "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(100)
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation in the near-dup candidate
    graph — the cohesion signal that separates tight clone clusters
    (every member pairwise-similar: many triangles) from chains of
    borderline matches (few): a curation pipeline treats the former as
    one document family and audits the latter.

    Scale shape — the degree-ordered orientation (node-iterator++):
    each undirected edge is oriented from the (degree, id)-smaller
    endpoint, so every wedge is generated exactly once at its
    lowest-rank apex and a hub of degree d contributes O(sum of its
    OUT-degree^2) wedges, bounded by graph arboricity instead of d^2 —
    the standard mitigation for power-law skew in distributed triangle
    counting. The lexicographic (deg, id) comparison needs no global
    rank materialization (no single-partition window). Three
    hash-joins on node/edge keys; the quadratic wedge set never forms
    for high-degree nodes in full.

    Triangle identity (u,v,w) is counted once; per-doc counts then
    credit all three corners via one explode. DuckDB twin recomputes
    the identical orientation and joins."""
    edges = _dup_edges(spark, sf_dir)  # symmetric (src, dst)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    canon = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    with_deg = (
        canon.join(deg.select(F.col("src").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("src").alias("b"), F.col("d").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # Consumed three times below (both wedge legs + the closing-edge
    # probe). The orientation is dup-graph-sized and its degree joins
    # read the memoized edge set, so the consumers recompute it (the
    # two wedge legs share one exchange through Spark's reuse).
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    o1 = oriented.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = o1.join(o2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    members = tris.select(F.explode(F.array("u", "x", "y")).alias("doc_id"))
    return (
        members.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "doc_id")
    )


def _triangle_oracle() -> str:
    return f"""
        WITH {_ORACLE_LSH_EDGES},
        deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY src),
        canon AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
        oriented AS (
            SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
                        THEN a ELSE b END AS u,
                   CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
                        THEN b ELSE a END AS v,
                   CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
                        THEN db.d ELSE da.d END AS dv
            FROM canon
            JOIN deg da ON da.v = a
            JOIN deg db ON db.v = b
        ),
        tris AS (
            SELECT o1.u, o1.v AS x, o2.v AS y
            FROM oriented o1
            JOIN oriented o2 ON o1.u = o2.u
            JOIN oriented oc ON oc.u = o1.v AND oc.v = o2.v
            WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)
        ),
        members AS (
            SELECT u AS doc_id FROM tris
            UNION ALL SELECT x FROM tris
            UNION ALL SELECT y FROM tris
        )
        SELECT doc_id, count(*) AS n_triangles
        FROM members GROUP BY doc_id
        ORDER BY n_triangles DESC, doc_id
    """


def _pagerank_oracle() -> str:
    it = """
        c{k} AS (
            SELECT e.dst,
                   cast(floor(s.score / s.deg * 1000000000.0) AS bigint) AS c
            FROM edges e JOIN s{k} s ON e.src = s.doc_id
        ),
        s{k1} AS (
            SELECT n.doc_id, n.deg,
                   0.15 + 0.85 * (cast(coalesce(g.sum_c, 0) AS double)
                                  / 1000000000.0) AS score
            FROM s0 n LEFT JOIN (
                SELECT dst, sum(c) AS sum_c FROM c{k} GROUP BY dst
            ) g ON n.doc_id = g.dst
        )"""
    rounds = ",".join(it.format(k=k, k1=k + 1) for k in range(PR_ITERS))
    return f"""
        WITH {_ORACLE_LSH_EDGES},
        s0 AS (
            SELECT src AS doc_id, count(*) AS deg, 1.0 AS score
            FROM edges GROUP BY src
        ),{rounds}
        SELECT doc_id, cast(deg AS bigint) AS n_neighbors, score
        FROM s{PR_ITERS}
        ORDER BY score DESC, doc_id
        LIMIT 100
    """


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage scale pattern in one operator: LSH candidate
    generation (cheap, O(docs x bands), some false positives) followed
    by EXACT Jaccard verification computed ONLY on the candidates —
    never all pairs. This is how a 100 TB dedup actually runs: the
    quadratic exact measure is confined to the candidate set, whose
    size the banding controls.

    Plan shape: candidates come from the banding equality join; each
    side then broadcasts nothing — the per-doc distinct-shingle arrays
    join back by doc_id (two hash joins), and the intersect/union
    arithmetic is per-row array math in codegen. Output is the
    verified pair set with both the LSH estimate and the exact value,
    so the estimator's calibration is auditable."""
    triples = _verified_triples(spark, sf_dir)
    return (
        triples.select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "est_jaccard", "jaccard")
    )


def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration audit over the two-stage verify output:
    for each signature-agreement level k (est_jaccard = k/N_HASHES),
    how many candidate pairs the banding produced and what fraction
    are TRUE near-dups under the exact-Jaccard threshold — the
    measured precision curve that justifies (or re-tunes) the
    band/row split. "Measure, don't guess" applied to the dedup stack
    itself: at 100 TB this table is how you know the 4x2 banding
    holds its false-positive cost BEFORE paying the verify joins
    corpus-wide.

    Scale shape: derives entirely from the candidate-bounded verify
    triples (never all pairs); the rollup collapses to at most
    N_HASHES+1 rows with map-side combine. ``is_true`` compares the
    ratio of exact integers both engines compute identically."""
    t = _verified_triples(spark, sf_dir)
    exact = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        t.select(
            F.round(F.col("est_jaccard") * N_HASHES).cast("int").alias("n_agree"),
            (exact >= JACCARD_THRESHOLD).alias("is_true"),
        )
        .groupBy("n_agree")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_if(F.col("is_true")).alias("n_true"),
        )
        .withColumn(
            "precision", F.col("n_true").cast("double") / F.col("n_pairs")
        )
        .orderBy("n_agree")
    )


def _verified_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scaffold of the two-stage verify pattern (the single
    definition dedup_lsh_verified and dedup_containment both build on,
    so their candidate sets can never desynchronize): LSH candidate
    pairs joined back to both documents' distinct-shingle sets, with
    the exact set sizes precomputed — (doc_a, doc_b, est_jaccard,
    n_common, n_a, n_b). Every derived measure (Jaccard, either
    containment direction, overlap coefficient) is a ratio of these
    exact integers.

    The candidates are ``dedup_minhash_lsh`` itself; the verify arrays
    shingle the same repartitioned scan (Spark reuses that exchange,
    so the corpus is read once), and both join legs share one doc_id
    shuffle of the shingle sets. The intersect runs once per
    undirected candidate pair."""
    cand = dedup_minhash_lsh(spark, sf_dir)
    ss = _shingle_sets(spark, sf_dir)
    a = ss.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = ss.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            n_common.alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )


PREFIX_WORDS = 20


def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix near-dup: group documents by the md5 of their first
    ``PREFIX_WORDS`` words — the cheap web-crawl heuristic that catches
    truncated/re-scraped copies and templated boilerplate sharing an
    opening (distinct from exact-hash, which misses truncations, and
    from the order-insensitive fingerprint, which ignores position).

    Scale shape: identical to exact dedup — one per-row codegen'd
    digest, one hash-agg shuffle on a near-uniform 32-char key. Only
    groups with >1 member surface (the dup report, sublinear output)."""
    docs = load(spark, "documents", sf_dir)
    prefix = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, PREFIX_WORDS))
    return (
        docs.groupBy(F.md5(prefix).alias("prefix_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
        .select("prefix_hash", "keep_doc_id", "n_members")
    )


# Containment C(A in B) = |A ∩ B| / |A| — the asymmetric near-dup
# measure (Broder's resemblance/containment pair): a short document
# quoted wholesale inside a longer one scores near 1.0 on containment
# while Jaccard stays low (the union is dominated by the long side).
CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs over the LSH candidate set: for each
    candidate pair, C(a in b) = |sh_a ∩ sh_b| / |sh_a| — catches
    truncations, quote-wrapping, and boilerplate-plus-payload copies
    that symmetric Jaccard misses (reference has no dedup at all; this
    extends the two-stage scale pattern of dedup_lsh_verified).

    Scale shape: identical to the verified-Jaccard query — candidates
    from the banding equality join (O(docs x bands)), exact set math
    only on candidates, per-row codegen array intersect. Each
    UNDIRECTED candidate pair is joined and intersected ONCE (the
    shared ``_verified_triples`` scaffold); both directed containments
    are derived from that single (|A∩B|, |A|, |B|) triple and emitted
    via a generator (symmetrizing before the join would double the
    verify-join and intersect work — measured 2x at sf10). Containment
    is a ratio of exact integers, so the doubles are
    engine-identical."""
    triples = _verified_triples(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.col("n_common").alias("nc"),
        F.col("n_a").alias("na"),
        F.col("n_b").alias("nb"),
    )
    directed = triples.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("da"),
                    F.col("doc_b").alias("db"),
                    (F.col("nc") / F.col("na")).alias("c"),
                ),
                F.struct(
                    F.col("doc_b").alias("da"),
                    F.col("doc_a").alias("db"),
                    (F.col("nc") / F.col("nb")).alias("c"),
                ),
            )
        ).alias("e")
    ).select(
        F.col("e.da").alias("doc_a"),
        F.col("e.db").alias("doc_b"),
        F.col("e.c").alias("containment"),
    )
    return directed.filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


PASSAGE_WORDS = 10


def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dup profile: split every document into
    non-overlapping ``PASSAGE_WORDS``-word passages, count global
    occurrences of each passage, and report per-document how many of
    its passages also appear elsewhere (in another document, or again
    in the same one). The sub-document dedup signal used to strip
    syndicated paragraphs / boilerplate blocks that whole-doc dedup
    cannot see.

    Scale shape: one generator projection (explode of the passage
    array), ONE shuffle on the passage digest where an unordered
    window count attaches each passage's global frequency in place
    (replacing the r3 checkpoint + groupBy + re-join: no materialized
    intermediate — at 100 TB checkpointing the exploded projection is
    exactly the kind of write a scan-shaped pipeline must not pay —
    and one exchange instead of two), then a per-doc hash-agg. No
    quadratic stage anywhere; the passage dictionary is never
    collected. A corpus-dominating passage concentrates its copies on
    one reducer; that bound is the corpus's own dup rate and the same
    for the join form."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    words = _words()
    n_pass = F.ceil(F.size(words) / PASSAGE_WORDS).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_pass - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS))
        ),
    )
    pos = docs.select("doc_id", F.explode(passages).alias("ph"))
    w = Window.partitionBy("ph")
    return (
        pos.withColumn("n_global", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("n_global") > 1, 1).otherwise(0)).alias(
                "n_dup_passages"
            ),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup_passages") / F.col("n_passages")
        )
        .filter(F.col("n_dup_passages") > 0)
        .select("doc_id", "n_passages", "n_dup_passages", "dup_ratio")
    )


def dedup_lines_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup WITH document reconstruction: split
    every document into non-overlapping ``PASSAGE_WORDS``-word lines
    and keep exactly the FIRST global occurrence of every line ("we
    discarded all but one of any occurring span", C4/Raffel et al.),
    first = lowest (doc_id, position) — then re-assemble each
    document's surviving lines in their ORIGINAL order. Distinct from
    both ``dedup_passage`` (a dup-rate profile, no removal) and
    ``text_boilerplate_strip`` (drops ALL copies of frequent windows,
    including the first): this is the dedup that preserves one
    canonical copy of shared content.

    Scale shape: one generator projection (posexplode of the line
    array), ONE shuffle where an unordered window min-of-struct marks
    each line's first occurrence in place (no per-line sort — min is
    a commutative aggregate, unlike the row_number formulation), then
    a per-doc hash-agg whose reconstruction is pure array math:
    collect the kept (pos, line) structs, array_sort restores
    document order (position is the struct's leading field),
    array_join re-materializes the text. No sort exchange, no join
    back to the corpus, and the line dictionary is never collected."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    words = _words()
    n_lines = F.ceil(F.size(words) / PASSAGE_WORDS).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS), " "
        ),
    )
    pos = docs.select("doc_id", F.posexplode(lines).alias("pos", "line"))
    occ = F.struct(F.col("doc_id"), F.col("pos"))
    counted = pos.withColumn(
        "first_occ", F.min(occ).over(Window.partitionBy("line"))
    )
    kept = occ == F.col("first_occ")
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_if(~kept).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(kept, F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of any web
    corpus: normalize each page's URL (lowercase, strip fragment,
    strip tracking parameters, drop the ``www.`` host prefix, trim
    dangling separators) and keep one document per canonical URL.
    The synthetic corpus carries no URL column, so each doc is first
    augmented with a deterministic doc_id/source-derived messy URL
    (same convention as text_pii_redact's injected contacts) — case
    noise, utm_*/ref tracking params, and a fragment — giving the
    canonicalizer real work and real collisions at every scale.

    Scale shape: per-row regex chain (codegen'd, no UDF) then ONE
    shuffle on the canonical key; survivor choice is min(doc_id) —
    the same exact-dedup agg shape as dedup_exact."""
    docs = load(spark, "documents", sf_dir)
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM/docs/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/?utm_source=feed&ref=r"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&id="),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("#sec"),
        (F.col("doc_id") % 3).cast("string"),
    )
    canon = F.lower(raw)
    canon = F.regexp_replace(canon, "#.*$", "")  # fragment
    canon = F.regexp_replace(canon, "(utm_[a-z]+|ref)=[^&#]*&?", "")
    canon = F.regexp_replace(canon, "://www\\.", "://")
    canon = F.regexp_replace(canon, "[?&]+$", "")
    canon = F.regexp_replace(canon, "/+\\?", "?")
    return (
        docs.select(F.col("doc_id"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


SPAN_N = 5  # word n-gram size for the cross-doc substring audit


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-substring duplication audit (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" shape,
    approximated at n-gram granularity): for every document, the
    longest contiguous run of word {SPAN_N}-grams that ALSO appear in
    some OTHER document, plus the duplicated-gram share in exact ppm.
    This is the cross-document twin of decontaminate_span_lengths
    (which audits against a fixed holdout): a doc sharing one stray
    gram is noise; a doc whose 40-word span recurs elsewhere is a
    substring-level duplicate the document-level digests miss.

    Scale shape: one positional shingle pass (posexplode keeps gram
    indexes); grams collapse to md5 keys so BOTH shuffles — the
    distinct-doc frequency count and the tag-back join — move 32-byte
    hashes, never text. Unlike the holdout case the frequency table is
    corpus-sized, so the tag-back is a shuffle hash join on the gram
    key (no broadcast) — exactly the suffix-array-free formulation
    that scales: everything is keyed by gram hash, so a 1000-executor
    run partitions evenly regardless of document sizes.

    Join-free single-explode form (r9 optimization round): the corpus
    is exploded ONCE and there is NO tag-back join at all. A gram is
    cross-document-duplicated iff its corpus occurrence count exceeds
    its within-document count — ``count over (partition by g) >
    count over (partition by g, doc_id)`` — two window counts over one
    g-clustered exchange (hashpartitioning(g) satisfies both
    partitionings, so the second window re-uses the exchange and the
    (g, doc_id) sort serves both). The per-doc gram total rides every
    row as ``size(arr)`` (posexplode row count == array size), so the
    dup-only island window plus one exchange-free (doc_id, island)
    aggregate produce all three output columns. The r8 form exploded
    the corpus THREE times (dup-gram aggregate + two evaluations of
    the tag-back join) and re-joined the per-doc branches; at scale it
    shuffled the full gram stream by g three times. Now: one explode,
    one full g-shuffle, one dup-only doc_id shuffle, zero joins. Docs
    with no duplicated gram never reach the output, exactly as the old
    inner join dropped them (they have no dup rows).

    Skew caveat (r10, from the r9 advisor): the unbounded-frame window
    ``count over (partition by g)`` buffers every occurrence of a hot
    gram in ONE WindowExec task, where the r8 groupBy(g) enjoyed
    map-side partial aggregation — a corpus whose boilerplate n-grams
    dominate could straggle or spill on those partitions. Accepted
    deliberately: the trade bought zero joins and one explode (plan
    evidence, plans/r09), the md5 key space spreads everything short
    of a truly degenerate corpus, and a pre-aggregation per (g, doc_id)
    would reintroduce the second shuffle this rewrite removed. If a
    soak ever shows g-window stragglers, pre-aggregate (g, doc_id)
    counts before the corpus-level window and take the shuffle back.

    Reference parity: extends the dedup family (BASELINE.json
    north-star); no single reference op computes this — it is the
    training-pipeline gap-fill the brief's dedup list names."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    base = docs.select(
        "doc_id", regex_word_ngrams(F.col("text"), SPAN_N).alias("arr")
    )
    grams = base.select(
        "doc_id",
        F.size("arr").cast("bigint").alias("n_tot"),
        F.posexplode("arr").alias("idx", "gram"),
    ).select("doc_id", "n_tot", "idx", F.md5("gram").alias("g"))
    wg = Window.partitionBy("g")
    wgd = Window.partitionBy("g", "doc_id")
    dup = grams.withColumn(
        "hit", F.count(F.lit(1)).over(wg) > F.count(F.lit(1)).over(wgd)
    ).filter("hit")
    w = Window.partitionBy("doc_id").orderBy("idx")
    isl = dup.withColumn("grp", F.col("idx") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("c"), F.first("n_tot").alias("n_tot"))
        .groupBy("doc_id")
        .agg(
            F.first("n_tot").alias("n_grams"),
            F.sum("c").alias("n_dup_grams"),
            F.max("c").alias("max_dup_run_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            "max_dup_run_grams",
            (F.col("max_dup_run_grams") + SPAN_N - 1).alias(
                "max_dup_span_words"
            ),
            F.expr("n_dup_grams * 1000000 div n_grams").alias(
                "dup_gram_ppm"
            ),
        )
        .orderBy("doc_id")
    )


LPA_ITERS = 3  # synchronous label-propagation rounds (unrolled oracle)


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    near-dup candidate graph: every node starts as its own label; each
    round every node adopts the MOST FREQUENT label among its
    neighbors (smallest label on ties — the deterministic tie-break
    that makes synchronous LPA engine-exact). Where connected
    components (dedup_cc_survivors) answers "what is reachable", LPA
    answers "what is DENSELY tied" — bridges between loosely-joined
    clusters don't merge them, so the curation team sees near-dup
    neighborhoods at community granularity rather than giant weakly-
    connected blobs.

    Spark-first iterative shape (the Pregel-on-DataFrames pattern,
    same as graph_pagerank_dupgraph): per round ONE join (labels to
    edges), ONE label census aggregation, ONE argmax window over
    census rows (bounded by the LSH-candidate edge count, never
    corpus-quadratic); fixed LPA_ITERS rounds, a checkpoint
    truncating lineage; nothing reaches the driver. The DuckDB oracle
    unrolls the identical rounds as chained CTEs."""
    edges = _dup_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("lbl")
    )
    for _round in range(LPA_ITERS):
        census = (
            edges.join(
                labels.select(F.col("doc_id").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("cnt").desc(), F.col("lbl")
        )
        labels = (
            census.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "lbl")
            .checkpoint(eager=True)
        )
    return labels.select("doc_id", F.col("lbl").alias("community")).orderBy(
        "doc_id"
    )


WIN_K = 3  # winnowing: word k-gram size
WIN_W = 4  # winnowing: guarantee window (every WIN_W-run is covered)
WIN_MAXDF = 64  # hub cap: fingerprints in more docs are boilerplate


def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup (the MOSS/Schleimer-Wilkerson-Aiken
    local fingerprinting scheme): hash every word {WIN_K}-gram, slide a
    window of {WIN_W} hashes, keep each window's MINIMUM — the selected
    set is position-robust (guaranteed to catch any shared run of
    {WIN_W + WIN_K - 1}+ words) while storing only ~1/{WIN_W} of the
    grams, which is the storage/recall dial MinHash doesn't give (it
    sketches GLOBAL similarity; winnowing localizes WHERE the overlap
    is). Distinct-value selection per document keeps the winnowing
    guarantee without position tie-break ambiguity (every window's min
    VALUE is retained). Pairs sharing >= 2 fingerprints are reported
    with overlap in ppm of the smaller fingerprint set (containment
    orientation, like dedup_containment).

    Scale shape (r10): the whole winnowing selection is ARRAY-LOCAL
    per document — the k-gram hashes, the sliding-window minima over
    positions 0..ng−{WIN_W}, and the per-doc distinct all run as one
    codegen'd expression chain over the per-row gram array, so the
    gram stream never exists as rows and the corpus reaches its first
    exchange already subsampled to the fingerprint grain (the r9 shape
    posexploded every gram, shuffled the full stream by doc_id for two
    window passes, then paid a distinct shuffle). Fingerprints shared
    by more than WIN_MAXDF documents are dropped before pairing (and
    from the containment denominators): they are corpus boilerplate,
    and keeping them makes pairing quadratic in hub size as the corpus
    grows — the same document-frequency cap every production
    fingerprint index (MOSS itself included) applies. Candidate pairs
    come from an equality self-join ON THE FINGERPRINT HASH — the
    selected ~1/W subsample, not the gram stream. Same oracle-exact
    md5 hash space as the MinHash family."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    # The hash array MUST be a materialized column, not an inline
    # expression: embedded inside the window-min lambda it is
    # re-evaluated per position (measured: 4-5x the whole operator at
    # sf1). Multiple references to the alias below keep CollapseProject
    # from inlining the non-cheap md5 transform back in.
    hashed = docs.select(
        "doc_id",
        F.transform(
            regex_word_ngrams(F.col("text"), WIN_K),
            lambda g: F.conv(F.substring(F.md5(g), 1, 6), 16, 10).cast(
                "bigint"
            ),
        ).alias("hs"),
    )
    hs = F.col("hs")
    # Window min at position i (0..max(ng-W, 0)) = least of the W
    # members, unrolled (F.get returns null past the array end and
    # least skips nulls, so a doc shorter than one window keeps the
    # min of what it has — the r9 ROWS-frame semantics exactly), then
    # per-doc dedup, all inside the row. Null/empty guard: a null or
    # false WHEN condition yields null, and explode(null) emits no
    # rows, like the r9 posexplode on no grams.
    mins = F.when(
        F.size(hs) >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size(hs) - WIN_W, F.lit(0))
                ),
                lambda i: F.least(
                    *[F.get(hs, i + off) for off in range(WIN_W)]
                ),
            )
        ),
    )
    # The winnowed set (~1/W of the gram stream) is consumed three
    # ways (df cap, per-doc counts, pairing). Hash-partitioning it on
    # the fingerprint once gives every consumer the same exchange,
    # which Spark reuses, so the md5 + window-min chain runs ONCE. The
    # reuse needs identical subtrees below that exchange, so the
    # not-null filters the joins below would infer (and push under it
    # for some consumers only) are stated here for all of them; they
    # drop nothing (doc_id is the documents key, and minh is a least()
    # over non-null hashes).
    fp_all = (
        hashed.select("doc_id", F.explode(mins).alias("minh"))
        .filter(F.col("doc_id").isNotNull() & F.col("minh").isNotNull())
        .repartition("minh")
    )
    # Drop boilerplate HUB fingerprints (df > cap): hubs are few by
    # definition (the rare fingerprints are the keepers), so the hub
    # set broadcasts at any corpus size — the keep-set inner join
    # shuffled the corpus-sized winnowed set instead. The df count
    # reads doc_id so column pruning leaves the hub side's exchange
    # input whole, and the hubs drop through a left join + null test:
    # Spark pushes an anti-join below the repartition, which would
    # give the consumers a second, unshared exchange.
    hubs = (
        fp_all.groupBy("minh")
        .agg(F.count("doc_id").alias("df"))
        .filter(F.col("df") > WIN_MAXDF)
        .select("minh", F.lit(True).alias("hub"))
    )
    fp = (
        fp_all.join(F.broadcast(hubs), "minh", "left")
        .filter(F.col("hub").isNull())
        .drop("hub")
    )
    counts = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    # Candidate pairs: equality self-join on the fingerprint value —
    # measured FASTER than a collect_list + in-place combination
    # explode at sf1 (1.4s vs 2.1s isolated): the codegen'd hash join
    # beats the interpreted nested-transform struct builder for the
    # same pair volume, which the df cap bounds either way.
    a = fp.alias("a")
    b = fp.alias("b")
    pairs = (
        a.join(b, F.col("a.minh") == F.col("b.minh"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), F.col("nfp").alias("nfp_a")
    )
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), F.col("nfp").alias("nfp_b")
    )
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "nfp_a",
            "nfp_b",
            F.expr(
                "n_shared * 1000000 div least(nfp_a, nfp_b)"
            ).alias("containment_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


KCORE_K = 2  # core threshold
KCORE_ROUNDS = 4  # bounded peeling rounds (unrolled in the oracle)


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling of the near-dup graph: repeatedly
    remove nodes with fewer than K surviving neighbors. Dense cores of
    the duplicate graph are template/boilerplate families (the
    high-multiplicity content a curation pipeline caps hardest);
    pendant nodes and thin chains — LSH near-misses — peel away. The
    third lens on the same graph: CC = reachability, LPA = density
    communities, k-core = degeneracy ordering.

    Per-node output: peeled_round (1-based round the node fell out, 0 =
    survived all rounds) and the final in-core flag — the curation
    signal plus the audit of how fast the graph erodes.

    Spark-first iterative shape: per round ONE semi-join of edges onto
    the surviving node set and ONE degree aggregation (Pregel-on-
    DataFrames, same as PageRank/LPA); fixed KCORE_ROUNDS so the
    driver never sees data (a production run iterates until a
    metadata-sized per-round count stops changing — same plan per
    round). The DuckDB oracle unrolls identical rounds as chained
    CTEs."""
    edges = _dup_edges(spark, sf_dir)
    alive = edges.select(F.col("src").alias("doc_id")).distinct()
    result = alive.select("doc_id", F.lit(0).alias("peeled_round"))
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.join(
                alive.select(F.col("doc_id").alias("src")), "src"
            )
            .join(alive.select(F.col("doc_id").alias("dst")), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        survivors = deg.filter(F.col("deg") >= KCORE_K).select("doc_id")
        peeled = alive.join(survivors, "doc_id", "left_anti")
        result = result.join(
            peeled.select("doc_id", F.lit(rnd).alias("r")), "doc_id", "left"
        ).select(
            "doc_id",
            F.when(
                (F.col("peeled_round") == 0) & F.col("r").isNotNull(),
                F.col("r"),
            )
            .otherwise(F.col("peeled_round"))
            .alias("peeled_round"),
        )
        alive = survivors.checkpoint(eager=True)
    return result.select(
        "doc_id",
        "peeled_round",
        (F.col("peeled_round") == 0).alias("in_core"),
    ).orderBy("doc_id")


ER_ADJ = "red,blue,small,large,old,new,hot,cold"
ER_NOUN = "bolt,gear,ring,widget,gizmo,panel,valve,clamp"
ER_BLOCK_TARGET = 300  # target records per block (the deployment knob)
ER_MIN_BLOCKS = 50  # floor so tiny fixtures still have multiple blocks
ER_LEV_MATCH = 1  # match threshold on edit distance


def er_blocked_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record-linkage (entity resolution) quality audit — the
    structured-data cousin of fuzzy document dedup: pairs of records
    describing the same entity are found by comparing edit distance
    WITHIN equality blocks, never all-pairs. Each customer entity
    contributes two records: a clean one and a deterministically
    dirtied one (one dropped character; every 5th entity drops TWO —
    beyond the match threshold, so match recall is genuinely < 1; every
    9th entity also mis-captures the blocking attribute, so blocking
    recall is < 1 too). The single summary row reports the exact
    integer counts and ppm precision / blocking-recall / match-recall
    — the calibration numbers an ER deployment tunes its block key and
    threshold against (same audit shape as dedup_lsh_calibration).

    Scale shape: record synthesis is per-row codegen; candidate
    generation is ONE equality self-join on the block key (shuffle on
    city, never all-pairs) and levenshtein runs only inside blocks.
    Block-key cardinality GROWS WITH THE DATA — the modulus is
    greatest(ER_MIN_BLOCKS, n_records div ER_BLOCK_TARGET), computed
    from a 1-row broadcast count — so block SIZE (and therefore
    per-block pair count) stays ~constant at any scale; a fixed
    modulus would make in-block pairs quadratic in the corpus (at
    sf10 a 50-block version owes 22e9 comparisons — measured disk-full
    in the scale soak). At 100 TB you block on zip+name-prefix for the
    same reason: keys proliferate, blocks don't grow.

    Reference parity: gap-fill; the reference dedups trades by exact
    trade_id only (consumer.py:44-53) — this is the fuzzy-key
    generalization a warehouse needs."""
    cust = load(spark, "customer", sf_dir).select("c_custkey")
    nb = cust.agg(
        F.expr(
            f"greatest({ER_MIN_BLOCKS},"
            f" count(*) div {ER_BLOCK_TARGET})"
        ).alias("n_blocks")
    )
    cust = cust.crossJoin(F.broadcast(nb))
    base = F.expr("c_custkey div 2")
    variant = F.col("c_custkey") % 2
    # Mod BEFORE the int cast: the raw key is bigint-ranged (striped
    # replicas push it past 2^31) and only the 0..7 residue needs int.
    adj = F.expr(
        f"split('{ER_ADJ}', ',')[cast((c_custkey div 2) % 8 as int)]"
    )
    noun = F.expr(
        f"split('{ER_NOUN}', ',')[cast((c_custkey div 2 div 8) % 8 as int)]"
    )
    clean = F.concat_ws(" ", adj, noun, base.cast("string"))
    recs = cust.select(
        F.col("c_custkey").alias("rec_id"),
        base.alias("entity"),
        variant.alias("variant"),
        clean.alias("name0"),
        "n_blocks",
    )
    drop1 = F.concat(
        F.expr("substring(name0, 1, cast(entity % 10 as int))"),
        F.expr("substring(name0, cast(entity % 10 as int) + 2)"),
    )
    drop2 = F.concat(
        F.expr("substring(d1, 1, cast(entity % 7 as int))"),
        F.expr("substring(d1, cast(entity % 7 as int) + 2)"),
    )
    recs = (
        recs.withColumn(
            "d1",
            F.when(F.col("variant") == 1, drop1).otherwise(F.col("name0")),
        )
        .withColumn(
            "name",
            F.when(
                (F.col("variant") == 1) & (F.col("entity") % 5 == 0), drop2
            ).otherwise(F.col("d1")),
        )
        .withColumn(
            "city",
            F.when(
                (F.col("variant") == 1) & (F.col("entity") % 9 == 0),
                (F.col("entity") + 1) % F.col("n_blocks"),
            ).otherwise(F.col("entity") % F.col("n_blocks")),
        )
        .select("rec_id", "entity", "name", "city")
        # Explicit block-key partitioning: the record table is tiny but
        # the in-block pair join EXPLODES it ~150x — AQE sizes the
        # exchange on the INPUT and would coalesce to one task, putting
        # every levenshtein on one core. An explicit numPartitions
        # repartition is exempt from AQE coalescing and co-locates both
        # join sides, so block comparisons fan out across the machine
        # (and across a cluster) with zero further exchanges.
        .repartition(spark.sparkContext.defaultParallelism, "city")
    )
    a = recs.alias("a")
    b = recs.alias("b")
    cand = (
        a.join(b, (F.col("a.city") == F.col("b.city")))
        .filter(F.col("a.rec_id") < F.col("b.rec_id"))
        .select(
            (F.col("a.entity") == F.col("b.entity")).alias("is_true"),
            # Sound prune: lev <= k implies |len diff| <= k, and the
            # cheap length test short-circuits the O(len^2) kernel for
            # the bulk of in-block pairs on both engines.
            (
                (
                    F.abs(F.length("a.name") - F.length("b.name"))
                    <= ER_LEV_MATCH
                )
                & (
                    F.levenshtein(F.col("a.name"), F.col("b.name"))
                    <= ER_LEV_MATCH
                )
            ).alias("is_match"),
        )
    )
    cand_stats = cand.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.count_if(F.col("is_match")).alias("n_matched"),
        F.count_if(F.col("is_true")).alias("n_true_coblocked"),
        F.count_if(F.col("is_true") & F.col("is_match")).alias(
            "n_true_matched"
        ),
    )
    truth = (
        recs.groupBy("entity")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(
            F.sum(F.expr("k * (k - 1) div 2")).alias("n_true_pairs"),
            F.count(F.lit(1)).alias("n_entities"),
            F.sum("k").alias("n_records"),
        )
    )
    return F.broadcast(truth).crossJoin(cand_stats).select(
        "n_entities",
        "n_records",
        "n_true_pairs",
        "n_candidate_pairs",
        "n_matched",
        "n_true_matched",
        F.expr(
            "n_true_coblocked * 1000000 div greatest(n_true_pairs, 1)"
        ).alias("blocking_recall_ppm"),
        F.expr(
            "n_true_matched * 1000000 div greatest(n_true_pairs, 1)"
        ).alias("match_recall_ppm"),
        F.expr(
            "n_true_matched * 1000000 div greatest(n_matched, 1)"
        ).alias("precision_ppm"),
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_soft_weights": dedup_soft_weights,
    "dedup_prefix": dedup_prefix,
    "dedup_lsh_verified": dedup_lsh_verified,
    "dedup_lsh_calibration": dedup_lsh_calibration,
    "graph_pagerank_dupgraph": graph_pagerank_dupgraph,
    "graph_triangle_count": graph_triangle_count,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_multiprobe": dedup_embedding_multiprobe,
    "dedup_cc_survivors": dedup_cc_survivors,
    "sample_cluster_safe_split": sample_cluster_safe_split,
    "dedup_quality_survivor": dedup_quality_survivor,
    "dedup_containment": dedup_containment,
    "dedup_passage": dedup_passage,
    "dedup_lines_c4": dedup_lines_c4,
    "url_canonical_dedup": url_canonical_dedup,
    "dedup_semdedup": dedup_semdedup,
    "dedup_substring_spans": dedup_substring_spans,
    "er_blocked_matching": er_blocked_matching,
    "graph_label_propagation": graph_label_propagation,
    "graph_kcore": graph_kcore,
    "dedup_winnowing": dedup_winnowing,
}

_ORACLE_SIG = f"""
    SELECT doc_id,
           [list_aggregate(list_transform(shingles,
                s -> md5(cast(i AS varchar) || '|' || s)), 'min')
            for i in range(0, {N_HASHES})] AS sig
    FROM (SELECT doc_id, list_distinct(shingles) AS shingles
          FROM ({_ORACLE_SHINGLES}))
"""

# Shared LSH candidate CTE chain (sig -> bands -> cand): the single
# SQL definition of the banding join, used by the minhash pair query,
# connected components, and PageRank oracles — mirroring _dup_edges on
# the Spark side so the graphs can never desynchronize.
_ORACLE_LSH_CAND = f"""sig AS ({_ORACLE_SIG}),
        bands AS (
            SELECT doc_id, sig, b AS band,
                   sig[b * {BAND_ROWS} + 1] || '|' || sig[b * {BAND_ROWS} + 2] AS key
            FROM sig, (SELECT unnest(range(0, {N_HASHES // BAND_ROWS})) AS b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.sig AS sig_a, b.sig AS sig_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )"""

def _kcore_oracle() -> str:
    """Unrolled bounded k-core peeling: per round a surviving-degree
    CTE, a survivor CTE, and a peeled-this-round CTE — the SQL twin of
    graph_kcore's loop."""
    parts = ["a0 AS (SELECT DISTINCT src AS doc_id FROM edges)"]
    for i in range(1, KCORE_ROUNDS + 1):
        prev = f"a{i - 1}"
        parts.append(
            f"""d{i} AS (
            SELECT e.src AS doc_id, count(*) AS deg
            FROM edges e
            JOIN {prev} s ON e.src = s.doc_id
            JOIN {prev} t ON e.dst = t.doc_id
            GROUP BY e.src
        ),
        a{i} AS (SELECT doc_id FROM d{i} WHERE deg >= {KCORE_K}),
        p{i} AS (SELECT doc_id FROM {prev}
                 EXCEPT SELECT doc_id FROM a{i})"""
        )
    joined = ",\n        ".join(parts)
    cases = ",\n               ".join(
        f"CASE WHEN p{i}.doc_id IS NOT NULL THEN {i} END"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    left_joins = "\n        ".join(
        f"LEFT JOIN p{i} ON a0.doc_id = p{i}.doc_id"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
        WITH {{edges}},
        {joined}
        SELECT a0.doc_id,
               cast(coalesce(
               {cases},
               0) AS int) AS peeled_round,
               coalesce(
               {cases},
               0) = 0 AS in_core
        FROM a0
        {left_joins}
        ORDER BY a0.doc_id
    """


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation: LPA_ITERS chained
    (census, argmax) CTE pairs over the shared LSH edge chain — the
    SQL twin of graph_label_propagation's loop, one CTE pair per
    round so the oracle is definitionally the same fixed iteration."""
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        rounds.append(
            f"""c{i} AS (
            SELECT e.dst AS doc_id, l.lbl, count(*) AS cnt
            FROM edges e JOIN {prev} l ON e.src = l.doc_id
            GROUP BY e.dst, l.lbl
        ),
        l{i} AS (
            SELECT doc_id, lbl FROM (
                SELECT doc_id, lbl,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, lbl) AS rn
                FROM c{i})
            WHERE rn = 1
        )"""
        )
        prev = f"l{i}"
    joined = ",\n        ".join(rounds)
    return f"""
        WITH {{edges}},
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        l0 AS (SELECT doc_id, doc_id AS lbl FROM nodes),
        {joined}
        SELECT doc_id, lbl AS community FROM {prev} ORDER BY doc_id
    """


# cand qualified at CC_EDGE_EST and symmetrized — the oracle twin of
# _dup_edges.
_ORACLE_LSH_EDGES = f"""{_ORACLE_LSH_CAND},
        qual AS (
            SELECT doc_a, doc_b FROM cand
            WHERE len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
                  / {float(N_HASHES)} >= {CC_EDGE_EST}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM qual
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM qual
        )"""

# Shared CTE chain: exact-Jaccard candidate pairs (used by the pair
# query and as the edge set of the connected-components oracle).
_ORACLE_JACCARD_CTES = f"""
        sh AS (
            SELECT doc_id, unnest(list_distinct(shingles)) AS shingle
            FROM ({_ORACLE_SHINGLES})
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        jp AS (
            SELECT doc_a, doc_b,
                   n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
        )
"""

# Oracle-side Gopher fragments (shared with curation so the quality
# score in the survivor election is definitionally the gates' score).
# Imported here, next to their one use, rather than at module top:
# dedup is otherwise curation-independent.
from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (  # noqa: E402
    GOPHER_M_CTES as _GOPHER_M_CTES,
    GOPHER_SCORE_SQL as _GOPHER_SCORE_SQL,
)

ORACLES = {
    "dedup_lsh_verified": f"""
        WITH {_ORACLE_LSH_CAND},
        ss AS (
            SELECT doc_id, list_distinct(shingles) AS sh
            FROM ({_ORACLE_SHINGLES})
        ),
        est AS (
            SELECT doc_a, doc_b,
                   len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
                       / {float(N_HASHES)} AS est_jaccard
            FROM cand
        )
        SELECT doc_a, doc_b, est_jaccard,
               len(list_intersect(a.sh, b.sh))
                   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                   AS jaccard
        FROM est
        JOIN ss a ON doc_a = a.doc_id
        JOIN ss b ON doc_b = b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              >= {JACCARD_THRESHOLD}
    """,
    "dedup_lsh_calibration": f"""
        WITH {_ORACLE_LSH_CAND},
        ss AS (
            SELECT doc_id, list_distinct(shingles) AS sh
            FROM ({_ORACLE_SHINGLES})
        ),
        v AS (
            SELECT cast(len(list_filter(list_zip(sig_a, sig_b),
                                        p -> p[1] = p[2])) AS int) AS n_agree,
                   len(list_intersect(a.sh, b.sh)) AS n_common,
                   len(a.sh) AS n_a, len(b.sh) AS n_b
            FROM cand
            JOIN ss a ON doc_a = a.doc_id
            JOIN ss b ON doc_b = b.doc_id
        )
        SELECT n_agree,
               count(*) AS n_pairs,
               count(*) FILTER (WHERE n_common / (n_a + n_b - n_common)
                                      >= {JACCARD_THRESHOLD}) AS n_true,
               cast(count(*) FILTER (WHERE n_common / (n_a + n_b - n_common)
                                           >= {JACCARD_THRESHOLD}) AS double)
                   / count(*) AS precision
        FROM v
        GROUP BY n_agree
        ORDER BY n_agree
    """,
    "graph_pagerank_dupgraph": _pagerank_oracle(),
    "graph_triangle_count": _triangle_oracle(),
    "dedup_containment": f"""
        WITH {_ORACLE_LSH_CAND},
        ss AS (
            SELECT doc_id, list_distinct(shingles) AS sh
            FROM ({_ORACLE_SHINGLES})
        ),
        directed AS (
            SELECT doc_a, doc_b FROM cand
            UNION ALL
            SELECT doc_b AS doc_a, doc_a AS doc_b FROM cand
        )
        SELECT doc_a, doc_b,
               len(list_intersect(a.sh, b.sh)) / len(a.sh) AS containment
        FROM directed
        JOIN ss a ON doc_a = a.doc_id
        JOIN ss b ON doc_b = b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) / len(a.sh)
              >= {CONTAINMENT_THRESHOLD}
    """,
    "dedup_passage": f"""
        WITH pos AS (
            SELECT doc_id,
                   unnest([md5(array_to_string(
                               words[i*{PASSAGE_WORDS}+1 : i*{PASSAGE_WORDS}+{PASSAGE_WORDS}],
                               ' '))
                           for i in range(0, cast(ceil(len(words) / {PASSAGE_WORDS}.0)
                                                  AS bigint))]) AS ph
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents)
        ),
        counts AS (SELECT ph, count(*) AS n_global FROM pos GROUP BY ph)
        SELECT doc_id,
               count(*) AS n_passages,
               cast(sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) AS bigint)
                   AS n_dup_passages,
               cast(sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) AS bigint)
                   / count(*) AS dup_ratio
        FROM pos JOIN counts USING (ph)
        GROUP BY doc_id
        HAVING sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) > 0
    """,
    "dedup_lines_c4": f"""
        WITH pos AS (
            SELECT doc_id,
                   -- parallel unnests zip in DuckDB: position and
                   -- line stay aligned, matching Spark's posexplode
                   cast(unnest(range(cast(ceil(len(words) / {PASSAGE_WORDS}.0)
                                          AS bigint))) AS integer) AS pos,
                   unnest([array_to_string(
                               words[i*{PASSAGE_WORDS}+1 : i*{PASSAGE_WORDS}+{PASSAGE_WORDS}],
                               ' ')
                           for i in range(cast(ceil(len(words) / {PASSAGE_WORDS}.0)
                                               AS bigint))]) AS line
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents)
        ),
        marked AS (
            -- first global occurrence = lowest (doc_id, pos); the
            -- row_number formulation is the Spark side's min-of-struct
            SELECT doc_id, pos, line,
                   row_number() OVER (PARTITION BY line
                                      ORDER BY doc_id, pos) = 1 AS kept
            FROM pos
        )
        SELECT doc_id,
               count(*) AS n_lines,
               cast(count(*) FILTER (WHERE NOT kept) AS bigint)
                   AS n_dropped,
               coalesce(string_agg(line, ' ' ORDER BY pos)
                            FILTER (WHERE kept),
                        '') AS cleaned_text
        FROM marked
        GROUP BY doc_id
    """,
    "url_canonical_dedup": """
        WITH raw AS (
            SELECT doc_id,
                   'HTTPS://WWW.' || source || '.Example.COM/docs/'
                   || cast(doc_id % 40 AS varchar)
                   || '/?utm_source=feed&ref=r' || cast(doc_id % 7 AS varchar)
                   || '&id=' || cast(doc_id % 40 AS varchar)
                   || '#sec' || cast(doc_id % 3 AS varchar) AS url
            FROM documents
        )
        SELECT regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(lower(url), '#.*$', ''),
                               '(utm_[a-z]+|ref)=[^&#]*&?', '', 'g'),
                           '://www\\.', '://'),
                       '[?&]+$', ''),
                   '/+\\?', '?') AS canonical_url,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_docs
        FROM raw
        GROUP BY 1
    """,
    "dedup_prefix": f"""
        SELECT md5(array_to_string(string_split(text, ' ')[1:{PREFIX_WORDS}],
                                   ' ')) AS prefix_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_members
        FROM documents
        GROUP BY 1
        HAVING count(*) > 1
    """,
    "dedup_soft_weights": """
        WITH h AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS fp
            FROM documents
        ),
        g AS (SELECT fp, count(*) AS n_copies FROM h GROUP BY fp)
        SELECT doc_id, n_copies,
               cast(1000000 // n_copies AS bigint) AS weight_ppm
        FROM h JOIN g USING (fp)
        ORDER BY doc_id
    """,
    "dedup_exact": """
        SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies,
               md5(text) AS content_hash
        FROM documents GROUP BY md5(text)
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_ORACLE_JACCARD_CTES}
        SELECT doc_a, doc_b, jaccard FROM jp
    """,
    "dedup_cc_survivors": f"""
        WITH RECURSIVE {_ORACLE_LSH_EDGES},
        reach(n, m) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.n, e.dst FROM reach r JOIN edges e ON r.m = e.src
            WHERE e.dst <> r.n
        ),
        comp AS (
            SELECT n AS doc_id, least(n, min(m)) AS component
            FROM reach GROUP BY n
        )
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component,
               coalesce(c.component, d.doc_id) = d.doc_id AS is_survivor
        FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    "sample_cluster_safe_split": f"""
        WITH RECURSIVE {_ORACLE_LSH_EDGES},
        reach(n, m) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.n, e.dst FROM reach r JOIN edges e ON r.m = e.src
            WHERE e.dst <> r.n
        ),
        comp AS (
            SELECT n AS doc_id, least(n, min(m)) AS component
            FROM reach GROUP BY n
        ),
        lab AS (
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c USING (doc_id)
        ),
        lab2 AS (
            SELECT doc_id, component,
                   CASE WHEN cast(concat('0x', substr(md5('{SPLIT_TAG}'
                            || '#' || cast(component AS varchar)), 1, 6))
                            AS bigint) % 100 < {SPLIT_TEST_PCT}
                        THEN 'test' ELSE 'train' END AS split,
                   CASE WHEN cast(concat('0x', substr(md5('{SPLIT_TAG}'
                            || '#' || cast(doc_id AS varchar)), 1, 6))
                            AS bigint) % 100 < {SPLIT_TEST_PCT}
                        THEN 'test' ELSE 'train' END AS naive_split
            FROM lab
        ),
        und AS (SELECT src, dst FROM edges WHERE src < dst),
        x AS (
            -- coalesce: over an EMPTY edge set sum() is NULL while
            -- Spark's count_if is 0 — pin the zero-row semantics.
            SELECT cast(count(*) AS bigint) AS n_dup_pairs,
                   cast(coalesce(sum(CASE WHEN a.split <> b.split
                                 THEN 1 ELSE 0 END), 0) AS bigint)
                       AS cross_pairs_cluster,
                   cast(coalesce(sum(CASE WHEN a.naive_split <> b.naive_split
                                 THEN 1 ELSE 0 END), 0) AS bigint)
                       AS cross_pairs_naive
            FROM und
            JOIN lab2 a ON und.src = a.doc_id
            JOIN lab2 b ON und.dst = b.doc_id
        )
        SELECT l.split, cast(count(*) AS bigint) AS n_docs,
               cast(count(DISTINCT l.component) AS bigint) AS n_components,
               x.n_dup_pairs, x.cross_pairs_cluster, x.cross_pairs_naive
        FROM lab2 l CROSS JOIN x
        GROUP BY l.split, x.n_dup_pairs, x.cross_pairs_cluster,
                 x.cross_pairs_naive
        ORDER BY split
    """,
    "dedup_quality_survivor": f"""
        WITH RECURSIVE {_ORACLE_LSH_EDGES},
        reach(n, m) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.n, e.dst FROM reach r JOIN edges e ON r.m = e.src
            WHERE e.dst <> r.n
        ),
        comp AS (
            SELECT n AS doc_id, least(n, min(m)) AS component
            FROM reach GROUP BY n
        ),
        {_GOPHER_M_CTES},
        lab AS (
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS component,
                   {_GOPHER_SCORE_SQL} AS quality_score,
                   d.n_chars
            FROM documents d
            LEFT JOIN comp c USING (doc_id)
            JOIN gm USING (doc_id)
        )
        SELECT doc_id, component, quality_score,
               row_number() OVER (
                   PARTITION BY component
                   ORDER BY quality_score DESC, n_chars DESC, doc_id
               ) = 1 AS is_survivor
        FROM lab
    """,
    "dedup_minhash_lsh": f"""
        WITH {_ORACLE_LSH_CAND}
        SELECT doc_a, doc_b,
               len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
                   / {float(N_HASHES)} AS est_jaccard
        FROM cand
    """,
    "dedup_simhash": """
        WITH sims AS (
            SELECT doc_id,
                   list_aggregate(list_transform(range(1, 17), j ->
                       CASE WHEN list_sum(list_transform(words, w ->
                                CASE WHEN contains('89abcdef', substr(md5(w), j, 1))
                                     THEN 1 ELSE -1 END)) >= 0
                            THEN '1' ELSE '0' END), 'string_agg', '') AS simhash
            FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
                  FROM documents)
        )
        SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
        FROM sims GROUP BY simhash
    """,
    # Learned-quantizer twins: `cells` comes from the unrolled-Lloyd
    # CTE chain in functions/blocks.py (count-derived k, hash-ordered
    # init/sample, decimal-exact means, unrounded-cosine argmax).
    "dedup_embedding_cosine": f"""
        WITH {block_cells_oracle_ctes()}
        SELECT cast(ca.cell AS int) AS cell,
               a.vec_id AS vec_a, b.vec_id AS vec_b,
               {oracle_cosine('a.embedding', 'b.embedding')} AS cos
        FROM embeddings a
        JOIN cells ca ON a.vec_id = ca.vec_id
        JOIN cells cb ON ca.cell = cb.cell
        JOIN embeddings b
          ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
        WHERE {oracle_cosine('a.embedding', 'b.embedding')} >= {COSINE_THRESHOLD}
    """,
    "dedup_embedding_multiprobe": f"""
        WITH {block_cells_oracle_ctes(nprobe=DEDUP_NPROBE)}
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {oracle_cosine('a.embedding', 'b.embedding')} AS cos
        FROM embeddings a
        JOIN cells ca ON a.vec_id = ca.vec_id
        JOIN cells cb ON ca.cell = cb.cell
        JOIN embeddings b
          ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
        WHERE {oracle_cosine('a.embedding', 'b.embedding')} >= {COSINE_THRESHOLD}
    """,
    "dedup_semdedup": f"""
        WITH {block_cells_oracle_ctes()},
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM embeddings a
            JOIN cells ca ON a.vec_id = ca.vec_id
            JOIN cells cb ON ca.cell = cb.cell
            JOIN embeddings b
              ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
            WHERE {oracle_cosine('a.embedding', 'b.embedding')}
                  >= {SEMDEDUP_THRESHOLD}
        )
        SELECT e.label, e.vec_id, d.vec_id IS NULL AS keep
        FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    """,
    "dedup_substring_spans": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM documents
        ),
        x AS (
            SELECT doc_id, words,
                   CASE WHEN len(words) < {SPAN_N} THEN 1
                        ELSE len(words) - {SPAN_N - 1} END AS ng
            FROM w
        ),
        ch AS (
            SELECT doc_id, words, unnest(range(ng)) AS j
            FROM x
        ),
        t AS (
            SELECT doc_id, cast(j AS int) AS idx,
                   md5(CASE WHEN len(words) < {SPAN_N}
                            THEN array_to_string(words, ' ')
                            ELSE array_to_string(
                                words[j + 1:j + {SPAN_N}], ' ')
                       END) AS g
            FROM ch
        ),
        dup AS (
            SELECT g FROM t GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2
        ),
        tagged AS (
            SELECT t.doc_id, t.idx, d.g IS NOT NULL AS hit
            FROM t LEFT JOIN dup d USING (g)
        ),
        per_doc AS (
            SELECT doc_id, cast(count(*) AS bigint) AS n_grams,
                   cast(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS bigint)
                       AS n_dup_grams
            FROM tagged GROUP BY doc_id
        ),
        runs AS (
            SELECT doc_id, max(run_len) AS max_dup_run_grams FROM (
                SELECT doc_id, grp, cast(count(*) AS bigint) AS run_len
                FROM (SELECT doc_id, idx,
                             idx - row_number() OVER (
                                 PARTITION BY doc_id ORDER BY idx) AS grp
                      FROM tagged WHERE hit)
                GROUP BY doc_id, grp)
            GROUP BY doc_id
        )
        SELECT doc_id, n_grams, n_dup_grams, max_dup_run_grams,
               max_dup_run_grams + {SPAN_N - 1} AS max_dup_span_words,
               n_dup_grams * 1000000 // n_grams AS dup_gram_ppm
        FROM per_doc JOIN runs USING (doc_id)
        ORDER BY doc_id
    """,
    "graph_label_propagation": _lpa_oracle().format(
        edges=_ORACLE_LSH_EDGES
    ),
    "graph_kcore": _kcore_oracle().format(edges=_ORACLE_LSH_EDGES),
    "dedup_winnowing": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM documents
        ),
        x AS (
            SELECT doc_id, words,
                   CASE WHEN len(words) < {WIN_K} THEN 1
                        ELSE len(words) - {WIN_K - 1} END AS ng
            FROM w
        ),
        ch AS (
            SELECT doc_id, words, ng, unnest(range(ng)) AS j
            FROM x
        ),
        t AS (
            SELECT doc_id, ng, cast(j AS int) AS idx,
                   cast(concat('0x', substr(md5(
                       CASE WHEN len(words) < {WIN_K}
                            THEN array_to_string(words, ' ')
                            ELSE array_to_string(
                                words[j + 1:j + {WIN_K}], ' ')
                       END), 1, 6)) AS bigint) AS h
            FROM ch
        ),
        sel AS (
            SELECT doc_id, idx, ng,
                   min(h) OVER (PARTITION BY doc_id ORDER BY idx
                                ROWS BETWEEN CURRENT ROW
                                AND {WIN_W - 1} FOLLOWING) AS minh
            FROM t
        ),
        fp_all AS (
            SELECT DISTINCT doc_id, minh FROM sel
            WHERE idx <= greatest(ng - {WIN_W}, 0)
        ),
        fp AS (
            SELECT doc_id, minh FROM fp_all
            WHERE minh IN (SELECT minh FROM fp_all
                           GROUP BY minh
                           HAVING count(*) <= {WIN_MAXDF})
        ),
        counts AS (
            SELECT doc_id, cast(count(*) AS bigint) AS nfp
            FROM fp GROUP BY doc_id
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   cast(count(*) AS bigint) AS n_shared
            FROM fp a JOIN fp b
              ON a.minh = b.minh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
        )
        SELECT doc_a, doc_b, n_shared, ca.nfp AS nfp_a, cb.nfp AS nfp_b,
               n_shared * 1000000 // least(ca.nfp, cb.nfp)
                   AS containment_ppm
        FROM pairs
        JOIN counts ca ON pairs.doc_a = ca.doc_id
        JOIN counts cb ON pairs.doc_b = cb.doc_id
        ORDER BY doc_a, doc_b
    """,
    "er_blocked_matching": f"""
        WITH nb AS (
            SELECT greatest({ER_MIN_BLOCKS},
                            count(*) // {ER_BLOCK_TARGET}) AS n_blocks
            FROM customer
        ),
        recs0 AS (
            SELECT c_custkey AS rec_id,
                   c_custkey // 2 AS entity,
                   c_custkey % 2 AS variant,
                   n_blocks
            FROM customer, nb
        ),
        named AS (
            SELECT rec_id, entity, variant, n_blocks,
                   concat_ws(' ',
                       (string_split('{ER_ADJ}', ','))
                           [cast(entity % 8 AS int) + 1],
                       (string_split('{ER_NOUN}', ','))
                           [cast((entity // 8) % 8 AS int) + 1],
                       cast(entity AS varchar)) AS name0
            FROM recs0
        ),
        d1t AS (
            SELECT rec_id, entity, variant, n_blocks,
                   CASE WHEN variant = 1 THEN
                       substring(name0, 1, cast(entity % 10 AS int)) ||
                       substring(name0, cast(entity % 10 AS int) + 2)
                   ELSE name0 END AS d1
            FROM named
        ),
        recs AS (
            SELECT rec_id, entity,
                   CASE WHEN variant = 1 AND entity % 5 = 0 THEN
                       substring(d1, 1, cast(entity % 7 AS int)) ||
                       substring(d1, cast(entity % 7 AS int) + 2)
                   ELSE d1 END AS name,
                   CASE WHEN variant = 1 AND entity % 9 = 0
                        THEN (entity + 1) % n_blocks
                        ELSE entity % n_blocks END AS city
            FROM d1t
        ),
        cand AS (
            SELECT a.entity = b.entity AS is_true,
                   abs(length(a.name) - length(b.name)) <= {ER_LEV_MATCH}
                   AND levenshtein(a.name, b.name) <= {ER_LEV_MATCH}
                       AS is_match
            FROM recs a JOIN recs b
              ON a.city = b.city AND a.rec_id < b.rec_id
        ),
        cs AS (
            SELECT cast(count(*) AS bigint) AS n_candidate_pairs,
                   cast(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
                        AS bigint) AS n_matched,
                   cast(sum(CASE WHEN is_true THEN 1 ELSE 0 END)
                        AS bigint) AS n_true_coblocked,
                   cast(sum(CASE WHEN is_true AND is_match THEN 1 ELSE 0 END)
                        AS bigint) AS n_true_matched
            FROM cand
        ),
        truth AS (
            SELECT cast(count(*) AS bigint) AS n_entities,
                   cast(sum(k) AS bigint) AS n_records,
                   cast(sum(k * (k - 1) // 2) AS bigint) AS n_true_pairs
            FROM (SELECT entity, count(*) AS k FROM recs GROUP BY entity)
        )
        SELECT n_entities, n_records, n_true_pairs, n_candidate_pairs,
               n_matched, n_true_matched,
               cast(n_true_coblocked * 1000000 // greatest(n_true_pairs, 1)
                    AS bigint) AS blocking_recall_ppm,
               cast(n_true_matched * 1000000 // greatest(n_true_pairs, 1)
                    AS bigint) AS match_recall_ppm,
               cast(n_true_matched * 1000000 // greatest(n_matched, 1)
                    AS bigint) AS precision_ppm
        FROM truth, cs
    """,
}
