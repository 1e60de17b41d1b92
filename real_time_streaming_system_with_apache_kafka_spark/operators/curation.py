"""Corpus-curation operators for a training-data pipeline: benchmark
decontamination, rarity-weighted term scoring (TF-IDF shape), PII
redaction, embedding centroid profiling, and length-distribution
histograms.

The reference has no corpus tooling (it is a trade-stream system,
producer.py/consumer.py); these are the operations a pretraining data
pipeline layers on the same engine, and they follow the repo's parity
discipline: every output value is either an exact integer/string or a
ratio of exact integers, so the DuckDB oracle matches bit-for-bit.

Scale notes:
- Decontamination joins the corpus n-gram inverted index against the
  BENCHMARK n-gram set. Benchmarks are fixed-size (eval sets do not
  grow with the corpus), so the bench side is explicitly broadcast —
  at 100 TB the corpus side streams map-side with zero shuffle of the
  wide rows; only the per-doc hit counts aggregate.
- TF-IDF is two hash aggregations (term counts, document frequency)
  plus a broadcast of the per-term DF — the vocabulary is sublinear in
  corpus size. The scoring weight is the exact integer tf*(N-df)
  (monotone in the usual tf*ln(N/df)); no float log crosses engines.
- PII redaction is a pure per-row regex projection: scan-only,
  whole-stage codegen, no shuffle. Patterns are RE2-compatible (no
  lookaround/backrefs) so Java regex and DuckDB RE2 agree.
- Centroid stats posexplode 64-dim vectors into narrow (label, pos)
  rows — one shuffle keyed on (label, pos) with map-side partial
  aggregation; sums are exact decimals of 7-dp quantized components
  (the same quantization contract as dedup.py's cosine kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from real_time_streaming_system_with_apache_kafka_spark.operators.text import (
    ALL_STOPWORDS,
    ALL_SW_SQL,
)
from real_time_streaming_system_with_apache_kafka_spark.functions.ngrams import (
    regex_word_ngrams,
)
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import (
    load,
    load_rebalanced,
)

# Every doc_id = 0 (mod BENCH_MOD) plays the role of a held-out
# benchmark/eval document; the rest are the training corpus.
BENCH_MOD = 97
DECON_N = 5  # word n-gram size for contamination overlap
N_BUCKETS = 20


def decontaminate_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least one word 5-gram with the held-out benchmark slice
    (doc_id % 97 == 0), as done before pretraining to keep eval sets
    honest. Emits one row per contaminated training doc with its
    distinct-gram total and the number of grams that hit the benchmark
    set; downstream drops these ids with an anti-join.
    """
    # Decouple the shingling parallelism from the input file count
    # (same policy as dedup_minhash_lsh): a single parquet file must
    # not serialize the n-gram transform onto one task.
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = docs.select(
        "doc_id",
        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
        # Codegen'd regex gram pass — 3x faster than the interpreted
        # transform-lambda form at sf1 (identical gram sets).
        F.explode(
            F.array_distinct(regex_word_ngrams(F.col("text"), DECON_N))
        ).alias("gram"),
    )
    # The bench filter prunes rows BEFORE the shingle transform, so
    # this pass shingles only the ~1% benchmark slice.
    bench_grams = (
        grams.filter("is_bench")
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # One pass over the training shingles: the broadcast LEFT join
    # tags benchmark grams in place, and a single aggregation yields
    # both the total and the hit count — the corpus is shingled once,
    # not three times (hits, sizes, and the join each re-deriving it).
    return (
        grams.filter(~F.col("is_bench"))
        .join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_hit_grams"),
        )
        .filter(F.col("n_hit_grams") > 0)
        .select("doc_id", "n_grams", "n_hit_grams")
    )


def decontaminate_span_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination audit (the exact-substring view of Lee
    et al.'s dedup work): for every contaminated training document,
    the length of its LONGEST CONTIGUOUS run of benchmark-hitting
    5-grams — a doc sharing one stray 5-gram is noise, a doc sharing a
    40-word span IS the benchmark. decontaminate_holdout counts hits;
    this measures how long the overlaps run, which is what the
    keep/drop policy actually keys on.

    A run of k consecutive hit grams covers k + {DECON_N} - 1 shared
    words (max_span_words). Runs are found with the gaps-and-islands
    identity — gram_index - row_number() is constant within a
    consecutive run — one window over the HIT rows only (the ~1%
    contaminated slice), not the corpus.

    Scale shape: one positional shingle pass over the training corpus
    (posexplode keeps gram indexes); the benchmark gram set is
    fixed-size and broadcasts, so tagging is map-side; the per-doc
    totals are one O(corpus-grams) aggregation; the island window
    shuffles only the matched grams. Same broadcast discipline as
    decontaminate_holdout (eval sets do not grow with the corpus)."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = docs.select(
        "doc_id",
        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
        F.posexplode(regex_word_ngrams(F.col("text"), DECON_N)).alias(
            "idx", "gram"
        ),
    )
    bench_grams = (
        grams.filter("is_bench")
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tagged = grams.filter(~F.col("is_bench")).join(
        F.broadcast(bench_grams), "gram", "left"
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("hit").alias("n_hit_grams"),
    )
    w = Window.partitionBy("doc_id").orderBy("idx")
    runs = (
        tagged.filter(F.col("hit").isNotNull())
        .withColumn("grp", F.col("idx") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("max_span_grams"))
    )
    return (
        per_doc.join(runs, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_hit_grams",
            "max_span_grams",
            (F.col("max_span_grams") + DECON_N - 1).alias("max_span_words"),
        )
        .orderBy("doc_id")
    )


def profile_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source contamination matrix: for every source
    pair, how many bag-of-words content fingerprints they SHARE, and
    the fingerprint-level Jaccard in ppm — the feed-provenance audit
    that tells a curation team which upstream crawls are mirroring
    each other (and therefore which "independent" sources
    double-count). The fingerprint is profile_dup_rate_by_source's
    sorted-distinct-words md5 (reordered/repeated-word copies
    collapse; exact md5(text) would see only byte-identical mirrors).

    Scale shape: the corpus collapses to distinct (digest, source)
    pairs first (one hash aggregation); the pair join runs digest-to-
    digest on that deduplicated table, so a digest shared by k sources
    contributes k*(k-1)/2 pair rows — bounded by the source count (20
    here), never corpus-quadratic. Per-source digest totals are a tiny
    aggregate and broadcast into the final ratio."""
    docs = load(spark, "documents", sf_dir)
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )
    ds = docs.select(fp.alias("digest"), "source").distinct()
    per_source = ds.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_digests")
    )
    a, b = ds.alias("a"), ds.alias("b")
    pairs = (
        a.join(b, "digest")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = per_source.select(
        F.col("source").alias("source_a"), F.col("n_digests").alias("n_a")
    )
    nb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_digests").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "n_shared * 1000000 div (n_a + n_b - n_shared)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinguishing terms per document, TF-IDF shape.

    The weight is the exact integer tf * (N - df): strictly decreasing
    in document frequency like tf*ln(N/df), but a product of exact
    integers so ranking ties and values are engine-identical (no
    cross-engine libm ln). Ties break on the term string ascending.
    """
    docs = load(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = (
        toks.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs") - F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


# RE2-compatible (no lookaround, no backrefs) so Java regex == DuckDB.
EMAIL_RE = "[a-z0-9.]+@[a-z0-9]+\\.[a-z]+"
PHONE_RE = "\\+1-555-[0-9]{4}"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a corpus: count and redact emails and phone
    numbers. The synthetic corpus carries none, so each doc is first
    augmented with deterministic doc_id-derived contact strings — the
    redaction path then has real matches to scrub at every scale.
    """
    docs = load(spark, "documents", sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        (F.col("doc_id") % 1000).cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(aug, F.lit(PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        redacted.alias("redacted"),
    )


def embed_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension centroid accumulators over the embedding
    column: exact integer-unit sum and sum-of-squares of the 7-dp
    quantized components (the quantization contract shared with the
    cosine dedup kernel, dedup.py) plus the member count.
    mean = sum_q_e7/(n*1e7) and var derives from sumsq_q_e14/(n*1e14)
    on the caller's side; the engine emits exact sufficient statistics
    so no cross-engine division rounding is involved.

    Canonicalizer contract: the accumulators are exact integers in
    fixed units (sum_q_e7 in 1e-7 units, sumsq_q_e14 in 1e-14 units),
    summed in decimal(38,0) and emitted as strings — decimal output
    columns round-trip differently through pandas on Spark (Decimal
    object) vs DuckDB (float64) and hash-mismatch even when numerically
    identical (r2 f_map_funcs, r3 this query); a decimal-summed,
    string-emitted integer is the driver-proven shape
    (reconcile_checksum, extras.py:429). decimal(38,0) holds sumsq past
    10^38 / 10^14 = 10^24-row groups — comfortably beyond 100 TB.
    """
    emb = load(spark, "embeddings", sf_dir)
    e = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn(
        "xq",
        (F.col("val").cast("double").cast("decimal(18,7)") * 10_000_000)
        .cast("decimal(19,0)"),
    )
    return e.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").cast("decimal(38,0)").cast("string").alias("sum_q_e7"),
        F.sum(F.col("xq") * F.col("xq"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sumsq_q_e14"),
    )


OUTLIER_TOPK = 5  # flagged vectors per label


def embed_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection per label: the top-{OUTLIER_TOPK}
    vectors farthest from their label centroid — the "weird embeddings"
    audit a pipeline runs before trusting labels or clustering output
    (mislabeled rows, corrupt encodes, and off-manifold junk all
    surface here first).

    Exactness without dividing by n: with s the per-(label,pos)
    component sum and n the label count, the centroid distance scales
    to the exact integer

        dist2 = sum_pos (n*xq - s_pos)^2  =  n^2 * ||x - s/n||^2 * 1e14

    over the 7-dp quantized components (the repo-wide quantization
    contract) — no mean, no division, no float. dist2 is emitted as a
    decimal(38,0)-summed STRING (the canonicalizer-proven shape of
    embed_centroid_stats; raw decimal output hash-mismatches through
    pandas) and the comparable magnitude as share_ppm = dist2*1e6 div
    label_total — a truncating division of exact integers. Ranking
    happens on the numeric dist2 before the string cast; within a
    label n is constant, so the n^2*1e14 scaling cannot reorder.

    Scale shape: one posexplode pass; the per-(label,pos) moment table
    is labels x dims rows (tiny at any corpus size) and broadcasts
    back; the per-vector rollup is the only O(rows x dims) shuffle;
    top-k per label is a rank window Spark prunes map-side
    (WindowGroupLimit)."""
    emb = load(spark, "embeddings", sf_dir)
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn(
        "xq",
        (F.col("val").cast("double").cast("decimal(18,7)") * 10_000_000)
        .cast("decimal(19,0)")
        .cast("bigint"),
    )
    stats = e.groupBy("label", "pos").agg(
        F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dev = e.join(F.broadcast(stats), ["label", "pos"]).select(
        "vec_id",
        "label",
        F.expr(
            "cast(n * xq - s AS decimal(38,0)) * (n * xq - s)"
        ).alias("sq"),
    )
    per_vec = dev.groupBy("vec_id", "label").agg(F.sum("sq").alias("dist2"))
    lab_tot = per_vec.groupBy("label").agg(F.sum("dist2").alias("tot"))
    w = Window.partitionBy("label").orderBy(F.desc("dist2"), F.asc("vec_id"))
    return (
        per_vec.join(F.broadcast(lab_tot), "label")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OUTLIER_TOPK)
        .select(
            "label",
            "rk",
            "vec_id",
            F.col("dist2")
            .cast("decimal(38,0)")
            .cast("string")
            .alias("dist2_n2_e14"),
            F.expr(
                "cast((dist2 * 1000000) div greatest(tot, 1) AS bigint)"
            ).alias("share_ppm"),
        )
        .orderBy("label", "rk")
    )


def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card column profiler: one row per column of ``orders``
    with row/non-null/distinct counts and canonical-string min/max —
    the table summary a curation team publishes alongside a data drop
    (and diffs between drops to catch schema/semantic drift).

    Exactness: min/max are computed on the NATIVE type and only then
    canonicalized (timestamps to yyyy-MM-dd, money through exact
    decimal cents, integers via plain string cast) so both engines
    render identical strings; counts are exact.

    Scale shape: ONE scan — all per-column aggregates ride a single
    aggregation (the multi-count_distinct Expand multiplies rows by
    the profiled-column count map-side, the standard cost of a
    one-pass profile; swap approx_count_distinct into the same slot
    when 6x-expand matters at 100 TB), then the per-column rows are
    unpivoted from the single 1-row aggregate with stack — metadata-
    sized, no second touch of the fact. Rebalanced load: the Expand
    multiplies whatever parallelism the scan has, so a single-rowgroup
    fixture must fan out first (no-op on real layouts)."""
    o = load_rebalanced(spark, "orders", sf_dir)
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    day = "yyyy-MM-dd"
    specs = [
        ("o_orderkey", F.col("o_orderkey"), lambda c: c.cast("string")),
        ("o_custkey", F.col("o_custkey"), lambda c: c.cast("string")),
        ("o_orderstatus", F.col("o_orderstatus"), lambda c: c),
        ("o_orderpriority", F.col("o_orderpriority"), lambda c: c),
        ("o_orderdate", F.col("o_orderdate"), lambda c: F.date_format(c, day)),
        ("o_totalprice_cents", cents, lambda c: c.cast("string")),
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, col, canon in specs:
        aggs += [
            F.count(col).alias(f"nn_{name}"),
            F.count_distinct(col).alias(f"nd_{name}"),
            canon(F.min(col)).alias(f"mn_{name}"),
            canon(F.max(col)).alias(f"mx_{name}"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', nn_{name}, nd_{name}, mn_{name}, mx_{name}"
        for name, _, _ in specs
    )
    return one.select(
        F.col("n_rows"),
        F.expr(
            f"stack({len(specs)}, {stack_args}) AS "
            "(col_name, n_nonnull, n_distinct, min_value, max_value)"
        ),
    ).select(
        "col_name", "n_rows", "n_nonnull", "n_distinct",
        "min_value", "max_value",
    ).orderBy("col_name")


def profile_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: 20 equal-width buckets of n_chars between
    the corpus min and max. Bucket index is integer floor-division of
    exact integers ((x - mn) * 20 div (mx - mn + 1)), identical across
    engines — no float width, no edge-of-bucket ulp flips.
    """
    docs = load(spark, "documents", sf_dir)
    bounds = docs.agg(
        F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx")
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"(n_chars - mn) * {N_BUCKETS} div (mx - mn + 1)"
            ).alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
    )


MIN_DF = 20  # inverted-index vocabulary floor
POSTINGS_SAMPLE = 5  # leading doc_ids kept per term


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> (document frequency, leading postings) inverted index —
    the lookup structure behind corpus search and n-gram dedup audits.

    Output is vocabulary-bounded: terms with df >= {MIN_DF}, each with
    its exact df and the first {POSTINGS_SAMPLE} posting doc_ids
    ('|'-joined in numeric order; full posting lists for hot terms are
    corpus-sized and belong in a store, not a result set).

    Scale shape: df is one hash aggregation over the exploded distinct
    terms; the postings sample is a rank window that Spark's
    WindowGroupLimit pushes map-side, so each task keeps at most
    {POSTINGS_SAMPLE} rows per term BEFORE the shuffle — a hot
    stopword's million postings never travel. The final df-to-postings
    join is vocabulary-sized.
    """
    docs = load(spark, "documents", sf_dir)
    terms = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    df_t = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    postings = (
        terms.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= POSTINGS_SAMPLE)
        .groupBy("term")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("doc_id")).cast("array<string>"),
                "|",
            ).alias("postings_head")
        )
    )
    return (
        df_t.filter(F.col("df") >= MIN_DF)
        .join(postings, "term")
        .select("term", "df", "postings_head")
        .orderBy("term")
    )


def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-rarity score: the mean corpus rarity
    (N - df) of the document's distinct words — the cheap
    LM-free proxy for "is this text unusual for the corpus" that
    quality pipelines threshold before spending model inference.
    All integer sums (exact), one final IEEE division per doc.

    Scale: one hash agg builds the (term, df) vocabulary, broadcast
    back against the exploded distinct words — the corpus scan stays
    shuffle-free except the per-doc re-aggregation, and the vocabulary
    table is bounded by the lexicon, not the corpus."""
    docs = load(spark, "documents", sf_dir)
    terms = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    df_t = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        terms.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("n_docs") - F.col("df")).alias("rarity_sum"),
            (
                F.sum(F.col("n_docs") - F.col("df"))
                / F.count(F.lit(1))
            ).alias("mean_rarity"),
        )
    )


def profile_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: how many of a source's documents
    are fingerprint-level duplicates of an earlier doc (any source),
    and the redundancy rate — the data-quality dashboard a curation
    team watches per feed. Survivor = lowest doc_id per fingerprint
    (the standing convention); everything else in the group counts as
    a duplicate against ITS OWN source."""
    docs = load(spark, "documents", sf_dir)
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )
    w = Window.partitionBy("fp")
    flagged = docs.select("doc_id", "source", fp.alias("fp")).withColumn(
        "is_dup", F.col("doc_id") != F.min("doc_id").over(w)
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if("is_dup").alias("n_dups"),
            (F.count_if("is_dup") / F.count(F.lit(1))).alias("dup_rate"),
        )
        .orderBy("source")
    )


CONTEXT_TOKENS = 512  # packing target (context window)
PACK_SHARD = 100  # docs per packing shard


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing (concatenate-and-chunk): assign
    every document a (shard, chunk, offset) address in a stream of
    fixed-capacity token windows — how pretraining pipelines batch
    variable-length documents with minimal padding.

    Packing is a running token sum in doc_id order; a GLOBAL cumsum
    would serialize onto one partition, so documents pack within
    fixed shards of {PACK_SHARD} ids (chunk boundaries reset per
    shard) — shards parallelize across executors, which is exactly
    the distributed form (a global greedy pack is order-sequential by
    definition). Token counts are whitespace words: integer-exact,
    and the real tokenizer slot is the same column swap as
    text_token_stats' TOKEN_PATTERN.
    """
    docs = load(spark, "documents", sf_dir)
    n_tok = F.size(F.split("text", " "))
    # Integer `div`, not float `/ ... cast(long)`: float division is
    # only exact below 2^53 and truncates toward zero where the
    # oracle's integer division floors — `div` matches exactly for
    # every long doc_id.
    shard = F.expr(f"doc_id div {PACK_SHARD}")
    w = Window.partitionBy("shard").orderBy("doc_id")
    toks = docs.select(
        "doc_id", shard.alias("shard"), n_tok.alias("n_tokens")
    )
    cum = toks.withColumn(
        "cum_end", F.sum("n_tokens").over(w)
    )
    return cum.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"(cum_end - n_tokens) div {CONTEXT_TOKENS}").alias("chunk"),
        F.expr(f"(cum_end - n_tokens) % {CONTEXT_TOKENS}").alias("offset"),
    )


# Gopher-style quality-rule thresholds (Rae et al. 2021, table A1,
# adapted to this corpus: no newlines, so the line-shape rules are
# replaced by word-shape rules). Every ratio test is restated as an
# exact integer inequality (5*n_alpha >= 4*n_words instead of
# n_alpha/n_words >= 0.8) so no float division crosses engines.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
# The canonical rule wants >=1 distinct stopwords; this synthetic corpus
# draws from a data-engineering vocabulary where docs carry at most one
# list stopword, so the discriminating threshold here is 1.
GOPHER_MIN_STOPWORDS = 1


def gopher_rule_columns() -> dict:
    """The six Gopher-rule boolean columns (plus n_words and the
    conjunctive keep) over a ``text`` column — pure per-row
    expressions, shared verbatim by the batch gate below and the
    streaming ingest gate (streaming/docdedup.py::gate_quality), so
    stream and batch agree by construction."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    # Total in-word chars: text length minus the single-space separators.
    word_chars = F.length("text") - (n_words - 1)
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_sym = F.size(F.filter(words, lambda w: w.rlike("[^a-z0-9]")))
    n_unique = F.size(F.array_distinct(words))
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(w) for w in ALL_STOPWORDS]))
    )
    r_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_word_len = (3 * n_words <= word_chars) & (word_chars <= 10 * n_words)
    r_alpha = 5 * n_alpha >= 4 * n_words
    r_symbol = 10 * n_sym <= n_words
    r_stop = n_stop >= GOPHER_MIN_STOPWORDS
    r_unique = 5 * n_unique >= n_words
    return {
        "n_words": n_words,
        "rule_word_count": r_words,
        "rule_mean_word_len": r_word_len,
        "rule_alpha_words": r_alpha,
        "rule_symbol_ratio": r_symbol,
        "rule_stopwords": r_stop,
        "rule_unique_ratio": r_unique,
        "keep": r_words & r_word_len & r_alpha & r_symbol & r_stop & r_unique,
    }


def quality_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher-rule quality gates: word-count bounds, mean
    word length 3..10, >=80% alphabetic words, <=10% symbol-bearing
    words, >=1 distinct stopwords, unique-word ratio >=0.2 (the
    repetition gate) — each rule its own boolean column plus the
    conjunctive ``keep``, so downstream mixes can re-weight individual
    rules without rescanning.

    Scale shape: pure per-row column expressions inside whole-stage
    codegen — one corpus scan, zero shuffle, embarrassingly parallel at
    any executor count."""
    docs = load(spark, "documents", sf_dir)
    rules = gopher_rule_columns()
    return docs.select(
        "doc_id",
        "lang",
        rules["n_words"].alias("n_words"),
        rules["rule_word_count"].alias("rule_word_count"),
        rules["rule_mean_word_len"].alias("rule_mean_word_len"),
        rules["rule_alpha_words"].alias("rule_alpha_words"),
        rules["rule_symbol_ratio"].alias("rule_symbol_ratio"),
        rules["rule_stopwords"].alias("rule_stopwords"),
        rules["rule_unique_ratio"].alias("rule_unique_ratio"),
        rules["keep"].alias("keep"),
    )


RULE_NAMES = [
    "rule_word_count",
    "rule_mean_word_len",
    "rule_alpha_words",
    "rule_symbol_ratio",
    "rule_stopwords",
    "rule_unique_ratio",
]


def gopher_score_column() -> Column:
    """Integer 0-6 rule-pass count — the exact (libm-free) quality
    score shared by the funnel and dedup's quality-aware survivor;
    mirrors ``GOPHER_SCORE_SQL`` on the oracle side."""
    rules = gopher_rule_columns()
    score = F.lit(0)
    for name in RULE_NAMES:
        score = score + rules[name].cast("int")
    return score


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pipeline funnel: raw docs -> Gopher quality gate ->
    exact dedup among the quality survivors — the audit table every
    production curation run publishes so yield loss is attributable
    per stage and per source (the first artifact anyone asks for when
    a source's contribution collapses).

    Stage semantics are sequential: dedup keys only quality-passing
    docs (first doc_id per text digest wins), so ``n_unique`` counts
    docs that survive BOTH gates, and a doc whose only duplicate was
    quality-rejected still counts as unique.

    Scale shape: ONE corpus scan computes gate flags + digest inside
    codegen; the survivor election is a single window exchange keyed
    on digest over narrow (digest, doc_id, source, q) rows — never
    text — using null-skipping min(when(q, doc_id)) so no second scan
    or self-join re-derives the flags; the final rollup is a tiny
    per-source hash-agg. No collect, nothing corpus-sized broadcast."""
    docs = load(spark, "documents", sf_dir)
    rules = gopher_rule_columns()
    hashed = docs.select(
        "doc_id",
        "source",
        rules["keep"].alias("q"),
        F.md5("text").alias("digest"),
    )
    flagged = hashed.withColumn(
        "keep_id",
        F.min(F.when(F.col("q"), F.col("doc_id"))).over(
            Window.partitionBy("digest")
        ),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_if(F.col("q")).alias("n_quality"),
            F.count_if(F.col("q") & (F.col("doc_id") == F.col("keep_id"))).alias(
                "n_unique"
            ),
        )
        .withColumn(
            "survival_rate",
            F.col("n_unique").cast("double") / F.col("n_raw"),
        )
        .orderBy("source")
    )


CHUNK_TOKENS = 40  # retrieval chunk size (tokens)
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunker: split every document into overlapping
    ``CHUNK_TOKENS``-token windows advancing by ``CHUNK_STRIDE`` —
    (doc_id, chunk_idx, chunk_text, n_tokens), the unit a retrieval
    index embeds. Start positions are every stride multiple below the
    word count, so short documents yield exactly one (possibly
    partial) chunk and no document is dropped.

    Scale shape: one generator projection per row (posexplode of the
    start-offset sequence) — zero shuffle, zero joins; output size is
    corpus x (1/stride) rows, streamed straight to the sink. Token
    counts are whitespace words; a real tokenizer swaps in via the
    same column substitution as pack_sequences."""
    docs = load(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size(words) - 1, F.lit(CHUNK_STRIDE))
    chunks = docs.select(
        "doc_id",
        words.alias("words"),
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(
            " ", F.slice("words", F.col("start") + 1, CHUNK_TOKENS)
        ).alias("chunk_text"),
        F.least(F.lit(CHUNK_TOKENS), F.size("words") - F.col("start")).alias(
            "n_tokens"
        ),
    )


# Tiny fasttext-style linear text classifier: integer term weights +
# bias, decision = score >= threshold. Weights are a fixed vocabulary
# table (in production: the exported coefficients of a trained linear
# model); scoring is a sparse dot product of the document's bag of
# words with the weight vector.
QUALITY_WEIGHTS = {
    "spark": 4,
    "data": 3,
    "vector": 3,
    "query": 2,
    "table": 2,
    "hash": 2,
    "row": 1,
    "the": -1,
    "a": -2,
    "slow": -3,
}
QUALITY_BIAS = -5
QUALITY_KEEP = 10


def quality_weighted_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: score = bias + sum over word
    OCCURRENCES of the term's weight (bag-of-words dot product with a
    linear model's coefficient vector), keep = score >= threshold.
    Complements the rule-based Gopher gates with the
    classifier-shaped filter every production curation stack runs.

    Scale shape: explode -> broadcast hash join against the (tiny)
    weight vocabulary -> per-doc sum. The explode preserves document
    locality, so the partial aggregation collapses each document to
    one row map-side before the single O(docs) shuffle; the weight
    table broadcasts (a real model vocabulary is ~100k rows — still a
    broadcast). Docs with no weighted terms re-enter via the left join
    with score = bias, so the filter's domain is the whole corpus."""
    docs = load(spark, "documents", sf_dir)
    w_df = spark.createDataFrame(
        sorted(QUALITY_WEIGHTS.items()), "term string, weight int"
    )
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    term_scores = (
        toks.join(F.broadcast(w_df), "term")
        .groupBy("doc_id")
        .agg(F.sum("weight").alias("term_score"))
    )
    return (
        docs.select("doc_id")
        .join(term_scores, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("term_score"), F.lit(0)) + QUALITY_BIAS).alias(
                "score"
            ),
        )
        .withColumn("keep", F.col("score") >= QUALITY_KEEP)
    )


CALIB_TOP_FRAC = 0.5  # keep the top half of each source's quality range


def quality_domain_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-domain quality calibration: rank every
    document's linear-model quality score WITHIN its source and keep
    the top ``CALIB_TOP_FRAC`` of each source — a global threshold
    would empty low-scoring domains entirely and let high-scoring
    domains dominate the mix; per-domain percent-rank keeps every
    domain represented at its own quality bar.

    Exactness: the score is the exact integer bag-of-words dot product
    (quality_weighted_terms' model); percent_rank runs over the unique
    (score desc, doc_id) ordering, so it is (rank-1)/(n-1), a ratio of
    exact integers both engines compute identically.

    Scale shape: the scoring pass is explode + broadcast-model join +
    per-doc sum (one O(docs) shuffle); the calibration is ONE window
    exchange on source. No global sort — ranks are per-domain."""
    scored = quality_weighted_terms(spark, sf_dir)
    docs = load(spark, "documents", sf_dir).select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(docs, "doc_id")
        .withColumn("pct_rank", F.percent_rank().over(w))
        .withColumn("keep", F.col("pct_rank") < CALIB_TOP_FRAC)
        .select("doc_id", "source", "score", "pct_rank", "keep")
    )


# Threshold sweep for the classifier-vs-gates evaluation below.  The
# linear model's scores span roughly -18..63 on the synthetic corpus
# (median ~13), so this grid produces a non-degenerate curve from
# recall~1 (threshold below every score) to precision-heavy tails.
CLS_EVAL_THRESHOLDS = [-10, -5, 0, 5, 10, 15, 20, 25, 30, 40]


def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the linear quality classifier
    (quality_weighted_terms' model) against the rule-based Gopher
    conjunctive keep as the reference label — the calibration audit a
    curation stack runs before trusting a learned filter to replace or
    pre-screen its rule gates. One row per candidate threshold with
    the exact confusion counts and integer-ppm precision / recall /
    F1, so threshold selection is a lookup, not a rescan.

    Exactness: tp/fp/fn/tn are exact integer counts; the ppm metrics
    are truncating integer divisions of those counts (``div`` on the
    Spark side, ``//`` in DuckDB — identical for non-negative
    operands), so no float ratio crosses engines. Zero denominators
    (a threshold above every score) guard with greatest(1, .).

    Scale shape: the corpus collapses FIRST to a (score, label)
    histogram — one O(docs) shuffle keyed on the bounded score domain
    — and the 10-threshold sweep runs over that tiny histogram via a
    broadcast cross join; the confusion matrix for all thresholds
    costs histogram-size work, not docs x thresholds. The label scan
    is per-row codegen (gopher_rule_columns), the score scan is the
    shared explode + broadcast-model join."""
    scored = quality_weighted_terms(spark, sf_dir).select("doc_id", "score")
    rules = gopher_rule_columns()
    labels = load(spark, "documents", sf_dir).select(
        "doc_id", rules["keep"].alias("label")
    )
    hist = (
        scored.join(labels, "doc_id")
        .groupBy("score", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    th = spark.createDataFrame(
        [(t,) for t in CLS_EVAL_THRESHOLDS], "threshold int"
    )
    pred = F.col("score") >= F.col("threshold")
    cell = lambda cond: F.sum(  # noqa: E731
        F.when(cond, F.col("n")).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        hist.join(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            cell(F.col("label") & pred).alias("tp"),
            cell(~F.col("label") & pred).alias("fp"),
            cell(F.col("label") & ~pred).alias("fn"),
            cell(~F.col("label") & ~pred).alias("tn"),
        )
        .select(
            "threshold",
            "tp",
            "fp",
            "fn",
            "tn",
            F.expr("tp * 1000000 div greatest(tp + fp, 1)").alias(
                "precision_ppm"
            ),
            F.expr("tp * 1000000 div greatest(tp + fn, 1)").alias(
                "recall_ppm"
            ),
            F.expr("tp * 2000000 div greatest(2 * tp + fp + fn, 1)").alias(
                "f1_ppm"
            ),
        )
        .orderBy("threshold")
    )


MASK_HEX_MAX = "0c"  # md5-prefix <= this starts a span: 13/256 ~ 5.1%
MASK_SPAN = 3  # words per masked span (T5 mean noise span length)


def mask_span_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan: for every document, the
    deterministic list of word spans to mask (~5% of positions start a
    {MASK_SPAN}-word span => ~15% noise density), each with its
    sentinel index and the masked text — the preprocessing table a
    denoising-objective trainer joins against the corpus at
    batch-assembly time.

    Span starts are a seeded hash of (doc_id, position): position i
    starts a span iff the first two hex chars of md5(doc_id|i) fall at
    or below ``MASK_HEX_MAX`` — a LEXICOGRAPHIC threshold, so no
    hex-to-integer conversion has to agree across engines; md5 and
    string comparison do. The plan is a pure function of the corpus —
    reproducible on any engine and cluster. Spans clamp at the
    document end; starts inside a previous span are allowed (T5's
    noise mask is i.i.d. too), and sentinel ids are dense per doc in
    position order (the posexplode index over the filtered starts).

    Scale shape: generate-only — one projection computes the filtered
    start array per row and posexplode streams the spans out; zero
    shuffle, zero joins (the same shape as chunk_documents)."""
    docs = load(spark, "documents", sf_dir)
    words = F.split("text", " ")

    def is_start(i):
        return (
            F.substring(
                F.md5(F.concat_ws("|", F.col("doc_id"), i.cast("string"))),
                1,
                2,
            )
            <= MASK_HEX_MAX
        )

    starts = F.filter(
        F.sequence(F.lit(0), F.size(words) - 1), lambda i: is_start(i)
    )
    return docs.select(
        "doc_id",
        words.alias("words"),
        F.size(words).alias("n_words"),
        F.posexplode(starts).alias("sentinel_id", "span_start"),
    ).select(
        "doc_id",
        "sentinel_id",
        "span_start",
        F.least(
            F.lit(MASK_SPAN), F.col("n_words") - F.col("span_start")
        ).alias("span_len"),
        F.array_join(
            F.slice(F.col("words"), F.col("span_start") + 1, F.lit(MASK_SPAN)),
            " ",
        ).alias("masked_text"),
    )


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def profile_schema_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler (the ANALYZE/data-quality pass a lake
    pipeline runs after ingest): per column — null count, exact
    distinct count, min and max (as strings, one schema for all
    types). ALL columns profile in a SINGLE aggregation over one scan;
    the wide one-row result unpivots driver-side via ``stack`` — at
    100 TB this is one pass over the table regardless of column count.
    Exact distincts ride the same shuffle; the approximate profiler
    would swap in approx_count_distinct with zero shape change."""
    docs = load(spark, "documents", sf_dir)
    cols = _PROFILE_COLS
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(c).alias(f"nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("string")).alias(f"mx_{c}"),
        ]
    wide = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    ).orderBy("column_name")


# --- Boilerplate stripping ------------------------------------------
BP_WINDOW = 10  # words per non-overlapping window
BP_THRESHOLD = 2  # windows appearing >= this many times corpus-wide drop


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet/RefinedWeb
    step): split every document into non-overlapping BP_WINDOW-word
    windows, count each window's occurrences across the whole corpus,
    drop windows seen >= BP_THRESHOLD times (nav bars, legal footers,
    syndicated blocks), and re-emit the cleaned text in original
    window order. Complements dedup_passage (which only *profiles*
    sub-document duplication) by producing the repaired documents.

    Scale shape: one generator projection (posexplode of the window
    array), ONE shuffle on the window digest where an unordered window
    count attaches each window's global frequency in place (the same
    single-exchange shape as dedup_passage — the generator projection
    is evaluated once, nothing is re-joined or checkpointed), then a
    per-doc rebuild agg — collect_list there is bounded by document
    length (windows of ONE document), never corpus-wide. No quadratic
    stage; the window dictionary is never collected."""
    docs = load(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    n_win = F.ceil(F.size(words) / BP_WINDOW).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * BP_WINDOW + 1, BP_WINDOW)
        ),
    )
    win = docs.select(
        "doc_id", F.posexplode(windows).alias("widx", "wtext")
    ).withColumn("wh", F.md5("wtext"))
    keep = F.col("n_global") < BP_THRESHOLD
    return (
        win.withColumn(
            "n_global", F.count(F.lit(1)).over(Window.partitionBy("wh"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(~keep, 1).otherwise(0)).alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("widx", "wtext"))
                        )
                    ),
                    lambda s: s.getField("wtext"),
                ),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


_BOILERPLATE_SQL = f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents
    ),
    x AS (
        SELECT doc_id, words,
               cast(ceil(len(words) / {BP_WINDOW}.0) AS bigint) AS nw
        FROM w
    ),
    ch AS (
        SELECT doc_id, unnest(range(nw)) AS widx, words FROM x
    ),
    t AS (
        SELECT doc_id, cast(widx AS int) AS widx,
               array_to_string(
                   list_slice(words, widx * {BP_WINDOW} + 1,
                              (widx + 1) * {BP_WINDOW}), ' ') AS wtext
        FROM ch
    ),
    c AS (
        SELECT wtext, count(*) AS n_global FROM t GROUP BY wtext
    )
    SELECT doc_id,
           count(*) AS n_windows,
           cast(sum(CASE WHEN n_global >= {BP_THRESHOLD} THEN 1 ELSE 0 END)
                AS bigint) AS n_dropped,
           coalesce(string_agg(
               CASE WHEN n_global < {BP_THRESHOLD} THEN t.wtext END,
               ' ' ORDER BY widx), '') AS clean_text
    FROM t JOIN c USING (wtext)
    GROUP BY doc_id
    ORDER BY doc_id
"""


def quality_lm_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality signal, self-trained on the
    corpus: score every document by how SURPRISING its word-to-word
    transitions are under a corpus-wide bigram model (CCNet buckets
    documents by KenLM perplexity; the corpus-trained bigram model is
    the in-warehouse equivalent, and the scoring join is the same
    shape a pre-trained model table would use).

    Cross-engine exactness without logarithms (log is not required to
    be correctly rounded, so engines may drift an ulp): the surprise
    of a bigram is its exact inverse conditional probability
    n(w1)/n(w1,w2) in integer ppm — n(w1)*1e6 div n(w1,w2), a ratio of
    exact counts under truncating integer division (bigint holds it to
    ~9e12 predecessor occurrences; past that, lift to decimal(38,0)).
    The per-doc mean is then one IEEE division of two exact integers —
    bit-identical everywhere. Rank-equivalent to mean log-perplexity
    for flagging the repetitive/templated tail.

    Scale shape: ONE corpus explode builds the per-doc bigram counts
    (tf); the model counts are window sums over tf (n12 per bigram, n1
    per predecessor — no second pass over the corpus and no join back),
    and one shuffle to the doc grain rolls the score up. No driver-side
    model state, no Spark job at plan build. The rebalanced load fans
    the bigram explode past a degenerate single-rowgroup input."""
    docs = load_rebalanced(spark, "documents", sf_dir)
    # Codegen'd regex bigram pass (the r4 dedup lesson: interpreted
    # transform lambdas dominate n-gram explodes at scale). The
    # size>=2 filter reproduces the lambda form's clamp exactly —
    # single-word docs contribute no bigrams (regex_word_ngrams alone
    # would emit its whole-text clamp gram for them).
    pairs = (
        docs.filter(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            F.explode(regex_word_ngrams(F.col("text"), 2)).alias("g"),
        )
        .select(
            "doc_id",
            F.substring_index("g", " ", 1).alias("w1"),
            F.substring_index("g", " ", -1).alias("w2"),
        )
    )
    # Per-doc bigram term frequencies FIRST: repetitive documents (the
    # very thing this score flags) collapse to one row per distinct
    # bigram, so the model windows and final rollup see the compressed
    # stream.
    # A/B at sf1: ~15-20% faster than joining the raw stream, values
    # bit-identical (sum of c*surprise == sum of per-row surprise).
    # The model is two window sums over tf: n12 partitioned by
    # (w1, w2) and n1 by w1, so tf is the only consumer of the corpus
    # explode and the model needs no aggregate-and-join-back. Hash
    # partitioning on w1 also clusters (w1, w2), so both windows can
    # share one exchange. Exact integer sums either way.
    tf = pairs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    scored = (
        tf.withColumn("n1", F.sum("c").over(Window.partitionBy("w1")))
        .withColumn("n12", F.sum("c").over(Window.partitionBy("w1", "w2")))
        .withColumn("surprise_ppm", F.expr("n1 * 1000000 div n12"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.col("c") * F.col("surprise_ppm")).alias("surprise_sum_ppm"),
        (
            F.sum(F.col("c") * F.col("surprise_ppm")) / F.sum("c")
        ).alias("mean_surprise_ppm"),
    )


# Context-length grid for the padding/truncation audit.
CTX_GRID = [64, 128, 256, 512]


def tokens_context_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning audit: for each candidate max_len,
    the exact cost of the two naive batching policies against the
    packing lower bound — documents truncated and tokens lost (train
    one doc per sequence, truncate at max_len), padding tokens wasted
    (same policy, pad to max_len), and the minimum sequence count
    packing could reach (ceil(total/L)). The numbers behind choosing
    a context length and justifying ``pack_sequences``: measured
    waste per candidate L, not intuition.

    Plan shape: the corpus collapses to a (doc_length, count)
    histogram first (one hash aggregate — the length support is tiny
    compared to the corpus), and the L-grid sweep runs on the
    broadcast histogram, so auditing 4 or 40 candidate lengths costs
    histogram-size work (the ``quality_classifier_eval`` shape).
    Token counts are whitespace words — the same documented real-
    tokenizer column swap as ``pack_sequences``."""
    docs = load_rebalanced(spark, "documents", sf_dir)
    hist = (
        docs.select(F.size(F.split("text", " ")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = spark.createDataFrame(
        [(length,) for length in CTX_GRID], "max_len int"
    )
    return (
        F.broadcast(grid)
        .crossJoin(hist)
        .groupBy("max_len")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.sum(F.col("n") * F.col("cnt")).cast("bigint").alias(
                "total_tokens"
            ),
            F.sum(F.when(F.col("n") > F.col("max_len"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("docs_truncated"),
            F.sum(
                F.greatest(F.col("n") - F.col("max_len"), F.lit(0))
                * F.col("cnt")
            )
            .cast("bigint")
            .alias("tokens_lost_trunc"),
            F.sum(
                F.greatest(F.col("max_len") - F.col("n"), F.lit(0))
                * F.col("cnt")
            )
            .cast("bigint")
            .alias("padding_tokens"),
        )
        .select(
            "max_len",
            "n_docs",
            "total_tokens",
            "docs_truncated",
            F.expr(
                "cast(1000000 * tokens_lost_trunc"
                " div greatest(total_tokens, 1) AS bigint)"
            ).alias("trunc_loss_ppm"),
            F.expr(
                "cast(1000000 * padding_tokens"
                " div greatest(n_docs * max_len, 1) AS bigint)"
            ).alias("pad_waste_ppm"),
            F.expr(
                "cast((total_tokens + max_len - 1) div max_len AS bigint)"
            ).alias("packed_sequences_lb"),
            # Ratio (not difference) keeps every operand non-negative:
            # signed integer division truncates in Spark but floors in
            # DuckDB, so negatives may not cross an integer div.
            F.expr(
                "cast(1000000 * ((total_tokens + max_len - 1)"
                " div max_len) div greatest(n_docs, 1) AS bigint)"
            ).alias("packed_vs_padded_ppm"),
        )
        .orderBy("max_len")
    )


QUERIES = {
    "decontaminate_holdout": decontaminate_holdout,
    "decontaminate_span_lengths": decontaminate_span_lengths,
    "profile_source_overlap": profile_source_overlap,
    "text_boilerplate_strip": text_boilerplate_strip,
    "profile_schema_stats": profile_schema_stats,
    "quality_gopher_gates": quality_gopher_gates,
    "pack_sequences": pack_sequences,
    "tokens_context_audit": tokens_context_audit,
    "text_tfidf_terms": text_tfidf_terms,
    "text_pii_redact": text_pii_redact,
    "embed_centroid_stats": embed_centroid_stats,
    "embed_outlier_scores": embed_outlier_scores,
    "profile_length_histogram": profile_length_histogram,
    "profile_table_stats": profile_table_stats,
    "text_inverted_index": text_inverted_index,
    "text_rarity_score": text_rarity_score,
    "profile_dup_rate_by_source": profile_dup_rate_by_source,
    "chunk_documents": chunk_documents,
    "quality_weighted_terms": quality_weighted_terms,
    "quality_lm_surprise": quality_lm_surprise,
    "quality_domain_calibrated": quality_domain_calibrated,
    "quality_classifier_eval": quality_classifier_eval,
    "mask_span_plan": mask_span_plan,
    "curation_funnel": curation_funnel,
}

# Shared Gopher-rule SQL fragments — the ONE oracle-side definition of
# the measurement CTEs and rule predicates, consumed by the gates
# query, the curation funnel, and dedup's quality-aware survivor so
# the three can never disagree on what "quality" means.  ``gm`` also
# carries source and the exact-dup digest for the downstream oracles.
GOPHER_M_CTES = f"""gbase AS (
        SELECT doc_id, lang, source, md5(text) AS digest,
               string_split(text, ' ') AS words,
               cast(length(text) AS int) AS nc
        FROM documents
    ),
    gm AS (
        SELECT doc_id, lang, source, digest, nc,
               cast(len(words) AS int) AS n_words,
               nc - (cast(len(words) AS int) - 1) AS word_chars,
               cast(len(list_filter(words,
                        w -> regexp_matches(w, '[a-z]'))) AS int) AS n_alpha,
               cast(len(list_filter(words,
                        w -> regexp_matches(w, '[^a-z0-9]'))) AS int) AS n_sym,
               cast(len(list_distinct(words)) AS int) AS n_unique,
               cast(len(list_intersect(words, {ALL_SW_SQL})) AS int) AS n_stop
        FROM gbase
    )"""

_GOPHER_RULES_SQL = {
    "rule_word_count": f"(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})",
    "rule_mean_word_len": "(3 * n_words <= word_chars AND word_chars <= 10 * n_words)",
    "rule_alpha_words": "(5 * n_alpha >= 4 * n_words)",
    "rule_symbol_ratio": "(10 * n_sym <= n_words)",
    "rule_stopwords": f"(n_stop >= {GOPHER_MIN_STOPWORDS})",
    "rule_unique_ratio": "(5 * n_unique >= n_words)",
}
GOPHER_KEEP_SQL = " AND ".join(_GOPHER_RULES_SQL.values())
GOPHER_SCORE_SQL = " + ".join(
    f"cast({r} AS int)" for r in _GOPHER_RULES_SQL.values()
)

_GOPHER_SQL = f"""
    WITH {GOPHER_M_CTES}
    SELECT doc_id, lang, n_words,
           {_GOPHER_RULES_SQL["rule_word_count"]} AS rule_word_count,
           {_GOPHER_RULES_SQL["rule_mean_word_len"]} AS rule_mean_word_len,
           {_GOPHER_RULES_SQL["rule_alpha_words"]} AS rule_alpha_words,
           {_GOPHER_RULES_SQL["rule_symbol_ratio"]} AS rule_symbol_ratio,
           {_GOPHER_RULES_SQL["rule_stopwords"]} AS rule_stopwords,
           {_GOPHER_RULES_SQL["rule_unique_ratio"]} AS rule_unique_ratio,
           {GOPHER_KEEP_SQL} AS keep
    FROM gm
"""

_ORACLE_NGRAMS = f"""
    SELECT doc_id, doc_id % {BENCH_MOD} = 0 AS is_bench,
           unnest(list_distinct(
               CASE WHEN len(words) < {DECON_N}
                    THEN [array_to_string(words, ' ')]
                    ELSE [array_to_string(words[i:i+{DECON_N - 1}], ' ')
                          for i in range(1, len(words) - {DECON_N - 2})]
               END)) AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""

def _profile_oracle() -> str:
    """Generated from the same _PROFILE_COLS list the Spark side uses,
    so adding a column cannot desynchronize the twins."""
    selects = "\n        UNION ALL\n".join(
        f"""        SELECT '{c}' AS column_name,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               min(cast({c} AS varchar)) AS min_value,
               max(cast({c} AS varchar)) AS max_value
        FROM documents""" for c in _PROFILE_COLS)
    return selects + "\n        ORDER BY column_name"


ORACLES = {
    "text_boilerplate_strip": _BOILERPLATE_SQL,
    "profile_schema_stats": _profile_oracle(),
    "quality_gopher_gates": _GOPHER_SQL,
    "curation_funnel": f"""
        WITH {GOPHER_M_CTES},
        k AS (SELECT doc_id, source, digest, {GOPHER_KEEP_SQL} AS q FROM gm),
        keepers AS (
            SELECT digest, min(doc_id) AS keep_id FROM k WHERE q GROUP BY digest
        )
        SELECT source,
               count(*) AS n_raw,
               count(*) FILTER (WHERE q) AS n_quality,
               count(*) FILTER (WHERE q AND doc_id = keep_id) AS n_unique,
               cast(count(*) FILTER (WHERE q AND doc_id = keep_id) AS double)
                   / count(*) AS survival_rate
        FROM k LEFT JOIN keepers USING (digest)
        GROUP BY source
        ORDER BY source
    """,
    "text_rarity_score": """
        WITH terms AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(text, ' '))) AS term
            FROM documents
        ),
        df AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id,
               count(*) AS n_terms,
               cast(sum(n_docs - df) AS bigint) AS rarity_sum,
               cast(sum(n_docs - df) AS double) / count(*) AS mean_rarity
        FROM terms JOIN df USING (term) CROSS JOIN n
        GROUP BY doc_id
    """,
    "profile_dup_rate_by_source": """
        WITH fp AS (
            SELECT doc_id, source,
                   md5(list_aggregate(list_sort(list_distinct(
                       string_split(text, ' '))), 'string_agg', ' '))
                       AS h
            FROM documents
        ),
        flagged AS (
            SELECT source,
                   doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_dup
            FROM fp
        )
        SELECT source,
               count(*) AS n_docs,
               count(*) FILTER (WHERE is_dup) AS n_dups,
               cast(count(*) FILTER (WHERE is_dup) AS double) / count(*)
                   AS dup_rate
        FROM flagged
        GROUP BY source
        ORDER BY source
    """,
    "text_inverted_index": f"""
        WITH terms AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(text, ' '))) AS term
            FROM documents
        ),
        df AS (
            SELECT term, count(*) AS df FROM terms GROUP BY term
        ),
        ranked AS (
            SELECT term, doc_id,
                   row_number() OVER (PARTITION BY term ORDER BY doc_id)
                       AS rn
            FROM terms
        ),
        heads AS (
            SELECT term,
                   array_to_string(list_sort(list(doc_id)), '|')
                       AS postings_head
            FROM ranked WHERE rn <= {POSTINGS_SAMPLE} GROUP BY term
        )
        SELECT term, df, postings_head
        FROM df JOIN heads USING (term)
        WHERE df >= {MIN_DF}
        ORDER BY term
    """,
    "tokens_context_audit": f"""
        WITH hist AS (
            SELECT len(string_split(text, ' ')) AS n,
                   cast(count(*) AS bigint) AS cnt
            FROM documents GROUP BY 1
        ),
        grid(max_len) AS (VALUES {", ".join(f"({L})" for L in CTX_GRID)}),
        agg AS (
            SELECT max_len,
                   cast(sum(cnt) AS bigint) AS n_docs,
                   cast(sum(n * cnt) AS bigint) AS total_tokens,
                   cast(sum(CASE WHEN n > max_len THEN cnt ELSE 0 END)
                        AS bigint) AS docs_truncated,
                   cast(sum(greatest(n - max_len, 0) * cnt) AS bigint)
                       AS tokens_lost_trunc,
                   cast(sum(greatest(max_len - n, 0) * cnt) AS bigint)
                       AS padding_tokens
            FROM grid CROSS JOIN hist
            GROUP BY max_len
        )
        SELECT max_len, n_docs, total_tokens, docs_truncated,
               cast(1000000 * tokens_lost_trunc
                    // greatest(total_tokens, 1) AS bigint)
                   AS trunc_loss_ppm,
               cast(1000000 * padding_tokens
                    // greatest(n_docs * max_len, 1) AS bigint)
                   AS pad_waste_ppm,
               cast((total_tokens + max_len - 1) // max_len AS bigint)
                   AS packed_sequences_lb,
               cast(1000000 * ((total_tokens + max_len - 1) // max_len)
                    // greatest(n_docs, 1) AS bigint)
                   AS packed_vs_padded_ppm
        FROM agg
        ORDER BY max_len
    """,
    "pack_sequences": f"""
        WITH toks AS (
            SELECT doc_id, doc_id // {PACK_SHARD} AS shard,
                   cast(len(string_split(text, ' ')) AS int) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, shard, n_tokens,
                   cast(sum(n_tokens) OVER (PARTITION BY shard
                                            ORDER BY doc_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS bigint)
                       AS cum_end
            FROM toks
        )
        SELECT doc_id, shard, n_tokens,
               (cum_end - n_tokens) // {CONTEXT_TOKENS} AS chunk,
               (cum_end - n_tokens) % {CONTEXT_TOKENS} AS offset
        FROM cum
    """,
    "decontaminate_holdout": f"""
        WITH grams AS ({_ORACLE_NGRAMS}),
        bench AS (SELECT DISTINCT gram FROM grams WHERE is_bench),
        train AS (SELECT doc_id, gram FROM grams WHERE NOT is_bench)
        SELECT t.doc_id,
               (SELECT count(*) FROM train t2
                WHERE t2.doc_id = t.doc_id) AS n_grams,
               count(*) AS n_hit_grams
        FROM train t JOIN bench b USING (gram)
        GROUP BY t.doc_id
    """,
    "text_tfidf_terms": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df
               FROM toks GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf, df, tf * (n_docs - df) AS score,
               cast(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tf * (n_docs - df) DESC,
                                                term ASC) AS int) AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n
        QUALIFY rk <= 5
    """,
    "text_pii_redact": f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || cast(doc_id % 1000 AS varchar)
                        || '@example.com or +1-555-'
                        || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
                   AS a
            FROM documents
        )
        SELECT doc_id,
               cast(len(regexp_extract_all(a, '{EMAIL_RE}')) AS int)
                   AS n_emails,
               cast(len(regexp_extract_all(a, '{PHONE_RE}')) AS int)
                   AS n_phones,
               regexp_replace(regexp_replace(a, '{EMAIL_RE}', '[EMAIL]', 'g'),
                              '{PHONE_RE}', '[PHONE]', 'g') AS redacted
        FROM aug
    """,
    "embed_centroid_stats": """
        SELECT label, pos, count(*) AS n,
               cast(cast(sum(xq) AS decimal(38,0)) AS varchar) AS sum_q_e7,
               cast(cast(sum(xq * xq) AS decimal(38,0)) AS varchar)
                   AS sumsq_q_e14
        FROM (
            -- parallel unnests zip in DuckDB: position and value stay
            -- aligned, matching Spark's posexplode
            SELECT label,
                   cast(unnest(generate_series(1, len(embedding))) - 1
                        AS integer) AS pos,
                   cast(cast(cast(unnest(embedding) AS double)
                             AS decimal(18,7)) * 10000000 AS hugeint)
                       AS xq
            FROM embeddings
        )
        GROUP BY label, pos
    """,
    "decontaminate_span_lengths": f"""
        WITH w AS (
            SELECT doc_id, doc_id % {BENCH_MOD} = 0 AS is_bench,
                   string_split(text, ' ') AS words
            FROM documents
        ),
        x AS (
            SELECT doc_id, is_bench, words,
                   CASE WHEN len(words) < {DECON_N} THEN 1
                        ELSE len(words) - {DECON_N - 1} END AS ng
            FROM w
        ),
        ch AS (
            SELECT doc_id, is_bench, words,
                   unnest(range(ng)) AS j
            FROM x
        ),
        t AS (
            SELECT doc_id, is_bench, cast(j AS int) AS idx,
                   CASE WHEN len(words) < {DECON_N}
                        THEN array_to_string(words, ' ')
                        ELSE array_to_string(
                            words[j + 1:j + {DECON_N}], ' ')
                   END AS gram
            FROM ch
        ),
        bench AS (SELECT DISTINCT gram FROM t WHERE is_bench),
        tagged AS (
            SELECT t.doc_id, t.idx, b.gram IS NOT NULL AS hit
            FROM t LEFT JOIN bench b USING (gram)
            WHERE NOT is_bench
        ),
        per_doc AS (
            SELECT doc_id, cast(count(*) AS bigint) AS n_grams,
                   cast(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS bigint)
                       AS n_hit_grams
            FROM tagged GROUP BY doc_id
        ),
        runs AS (
            SELECT doc_id, max(run_len) AS max_span_grams FROM (
                SELECT doc_id, grp, cast(count(*) AS bigint) AS run_len
                FROM (SELECT doc_id, idx,
                             idx - row_number() OVER (
                                 PARTITION BY doc_id ORDER BY idx) AS grp
                      FROM tagged WHERE hit)
                GROUP BY doc_id, grp)
            GROUP BY doc_id
        )
        SELECT doc_id, n_grams, n_hit_grams, max_span_grams,
               max_span_grams + {DECON_N - 1} AS max_span_words
        FROM per_doc JOIN runs USING (doc_id)
        ORDER BY doc_id
    """,
    "profile_source_overlap": """
        WITH ds AS (
            SELECT DISTINCT
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS digest,
                   source
            FROM documents
        ),
        per_source AS (
            SELECT source, cast(count(*) AS bigint) AS n
            FROM ds GROUP BY source
        ),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   cast(count(*) AS bigint) AS n_shared
            FROM ds a JOIN ds b USING (digest)
            WHERE a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b, n_shared,
               na.n AS n_a, nb.n AS n_b,
               cast(n_shared * 1000000 // (na.n + nb.n - n_shared)
                    AS bigint) AS jaccard_ppm
        FROM pairs
        JOIN per_source na ON na.source = pairs.source_a
        JOIN per_source nb ON nb.source = pairs.source_b
        ORDER BY source_a, source_b
    """,
    "embed_outlier_scores": f"""
        WITH e AS (
            SELECT vec_id, label,
                   cast(unnest(generate_series(1, len(embedding))) - 1
                        AS integer) AS pos,
                   cast(cast(cast(unnest(embedding) AS double)
                             AS decimal(18,7)) * 10000000 AS bigint)
                       AS xq
            FROM embeddings
        ),
        stats AS (
            SELECT label, pos, cast(sum(xq) AS bigint) AS s,
                   cast(count(*) AS bigint) AS n
            FROM e GROUP BY label, pos
        ),
        dev AS (
            SELECT vec_id, e.label,
                   cast(n * xq - s AS hugeint) * (n * xq - s) AS sq
            FROM e JOIN stats USING (label, pos)
        ),
        per_vec AS (
            SELECT vec_id, label, sum(sq) AS dist2
            FROM dev GROUP BY vec_id, label
        ),
        tot AS (SELECT label, sum(dist2) AS tot FROM per_vec
                GROUP BY label),
        ranked AS (
            SELECT per_vec.*, tot,
                   cast(row_number() OVER (PARTITION BY per_vec.label
                            ORDER BY dist2 DESC, vec_id) AS int) AS rk
            FROM per_vec JOIN tot USING (label)
        )
        SELECT label, rk, vec_id,
               cast(cast(dist2 AS decimal(38,0)) AS varchar)
                   AS dist2_n2_e14,
               cast((dist2 * 1000000) // greatest(tot, 1) AS bigint)
                   AS share_ppm
        FROM ranked
        WHERE rk <= {OUTLIER_TOPK}
        ORDER BY label, rk
    """,
    "profile_table_stats": """
        SELECT 'o_custkey' AS col_name, cast(count(*) AS bigint) AS n_rows,
               cast(count(o_custkey) AS bigint) AS n_nonnull,
               cast(count(DISTINCT o_custkey) AS bigint) AS n_distinct,
               cast(min(o_custkey) AS varchar) AS min_value,
               cast(max(o_custkey) AS varchar) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', cast(count(*) AS bigint),
               cast(count(o_orderdate) AS bigint),
               cast(count(DISTINCT o_orderdate) AS bigint),
               strftime(min(o_orderdate), '%Y-%m-%d'),
               strftime(max(o_orderdate), '%Y-%m-%d')
        FROM orders
        UNION ALL
        SELECT 'o_orderkey', cast(count(*) AS bigint),
               cast(count(o_orderkey) AS bigint),
               cast(count(DISTINCT o_orderkey) AS bigint),
               cast(min(o_orderkey) AS varchar),
               cast(max(o_orderkey) AS varchar)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', cast(count(*) AS bigint),
               cast(count(o_orderpriority) AS bigint),
               cast(count(DISTINCT o_orderpriority) AS bigint),
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', cast(count(*) AS bigint),
               cast(count(o_orderstatus) AS bigint),
               cast(count(DISTINCT o_orderstatus) AS bigint),
               min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice_cents', cast(count(*) AS bigint),
               cast(count(o_totalprice) AS bigint),
               cast(count(DISTINCT cast(cast(o_totalprice AS decimal(18,2))
                                        * 100 AS bigint)) AS bigint),
               cast(min(cast(cast(o_totalprice AS decimal(18,2)) * 100
                             AS bigint)) AS varchar),
               cast(max(cast(cast(o_totalprice AS decimal(18,2)) * 100
                             AS bigint)) AS varchar)
        FROM orders
        ORDER BY col_name
    """,
    "profile_length_histogram": f"""
        WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
                   FROM documents)
        SELECT (n_chars - mn) * {N_BUCKETS} // (mx - mn + 1) AS bucket,
               count(*) AS n_docs, min(n_chars) AS lo, max(n_chars) AS hi
        FROM documents CROSS JOIN b
        GROUP BY 1
    """,
    "chunk_documents": f"""
        SELECT doc_id,
               cast(chunk_idx AS int) AS chunk_idx,
               array_to_string(
                   words[chunk_idx*{CHUNK_STRIDE}+1 :
                         chunk_idx*{CHUNK_STRIDE}+{CHUNK_TOKENS}],
                   ' ') AS chunk_text,
               cast(least({CHUNK_TOKENS},
                          len(words) - chunk_idx*{CHUNK_STRIDE}) AS int)
                   AS n_tokens
        FROM (
            SELECT doc_id, words,
                   unnest(range(0, (len(words) - 1) // {CHUNK_STRIDE} + 1))
                       AS chunk_idx
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents)
        )
    """,
    "quality_weighted_terms": f"""
        WITH weights(term, weight) AS (VALUES {", ".join(
            f"('{t}', {w})" for t, w in sorted(QUALITY_WEIGHTS.items())
        )}),
        term_scores AS (
            SELECT doc_id, cast(sum(weight) AS bigint) AS term_score
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            JOIN weights USING (term)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(term_score, 0) + {QUALITY_BIAS} AS score,
               coalesce(term_score, 0) + {QUALITY_BIAS} >= {QUALITY_KEEP}
                   AS keep
        FROM documents d LEFT JOIN term_scores t ON d.doc_id = t.doc_id
    """,
    "quality_domain_calibrated": f"""
        WITH weights(term, weight) AS (VALUES {", ".join(
            f"('{t}', {w})" for t, w in sorted(QUALITY_WEIGHTS.items())
        )}),
        term_scores AS (
            SELECT doc_id, cast(sum(weight) AS bigint) AS term_score
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            JOIN weights USING (term)
            GROUP BY doc_id
        ),
        scored AS (
            SELECT d.doc_id, d.source,
                   coalesce(term_score, 0) + {QUALITY_BIAS} AS score
            FROM documents d LEFT JOIN term_scores t ON d.doc_id = t.doc_id
        )
        SELECT doc_id, source, score,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY score DESC, doc_id)
                   AS pct_rank,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY score DESC, doc_id)
                   < {CALIB_TOP_FRAC} AS keep
        FROM scored
    """,
    "quality_classifier_eval": f"""
        WITH weights(term, weight) AS (VALUES {", ".join(
            f"('{t}', {w})" for t, w in sorted(QUALITY_WEIGHTS.items())
        )}),
        term_scores AS (
            SELECT doc_id, cast(sum(weight) AS bigint) AS term_score
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            JOIN weights USING (term)
            GROUP BY doc_id
        ),
        scored AS (
            SELECT d.doc_id, coalesce(term_score, 0) + {QUALITY_BIAS} AS score
            FROM documents d LEFT JOIN term_scores t ON d.doc_id = t.doc_id
        ),
        {GOPHER_M_CTES},
        labels AS (SELECT doc_id, {GOPHER_KEEP_SQL} AS label FROM gm),
        j AS (SELECT score, label FROM scored JOIN labels USING (doc_id)),
        th(threshold) AS (VALUES {", ".join(
            f"({t})" for t in CLS_EVAL_THRESHOLDS
        )}),
        cm AS (
            SELECT threshold,
                   cast(sum(CASE WHEN label AND score >= threshold
                            THEN 1 ELSE 0 END) AS bigint) AS tp,
                   cast(sum(CASE WHEN NOT label AND score >= threshold
                            THEN 1 ELSE 0 END) AS bigint) AS fp,
                   cast(sum(CASE WHEN label AND score < threshold
                            THEN 1 ELSE 0 END) AS bigint) AS fn,
                   cast(sum(CASE WHEN NOT label AND score < threshold
                            THEN 1 ELSE 0 END) AS bigint) AS tn
            FROM j CROSS JOIN th
            GROUP BY threshold
        )
        SELECT threshold, tp, fp, fn, tn,
               cast(tp * 1000000 // greatest(tp + fp, 1) AS bigint)
                   AS precision_ppm,
               cast(tp * 1000000 // greatest(tp + fn, 1) AS bigint)
                   AS recall_ppm,
               cast(tp * 2000000 // greatest(2 * tp + fp + fn, 1) AS bigint)
                   AS f1_ppm
        FROM cm
        ORDER BY threshold
    """,
    "mask_span_plan": f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ),
        st AS (
            SELECT doc_id, words, cast(len(words) AS int) AS n_words,
                   [i for i in range(len(words))
                    if substr(md5(cast(doc_id AS varchar) || '|'
                                  || cast(i AS varchar)), 1, 2)
                       <= '{MASK_HEX_MAX}'] AS ss
            FROM base
        )
        SELECT doc_id,
               cast(unnest(range(len(ss))) AS int) AS sentinel_id,
               cast(unnest(ss) AS int) AS span_start,
               cast(least({MASK_SPAN},
                     n_words - cast(unnest(ss) AS int)) AS int) AS span_len,
               array_to_string(
                   words[cast(unnest(ss) AS int) + 1
                         : cast(unnest(ss) AS int) + {MASK_SPAN}],
                   ' ') AS masked_text
        FROM st
    """,
    "quality_lm_surprise": """
        WITH pairs AS (
            SELECT doc_id,
                   unnest(words[1:len(words)-1]) AS w1,
                   unnest(words[2:len(words)]) AS w2
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents)
            WHERE len(words) >= 2
        ),
        b AS (SELECT w1, w2, count(*) AS n12 FROM pairs GROUP BY w1, w2),
        u AS (SELECT w1, count(*) AS n1 FROM pairs GROUP BY w1)
        SELECT doc_id,
               count(*) AS n_bigrams,
               cast(sum(n1 * 1000000 // n12) AS bigint) AS surprise_sum_ppm,
               cast(sum(n1 * 1000000 // n12) AS double) / count(*)
                   AS mean_surprise_ppm
        FROM pairs JOIN b USING (w1, w2) JOIN u USING (w1)
        GROUP BY doc_id
    """,
}
