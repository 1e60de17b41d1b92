"""Probabilistic sketch operators with measured-error audits: a
count-min sketch over the corpus term stream and a Bloom-filter
pre-filter for incremental dedup — the two fixed-size summaries a
100 TB pipeline leans on when exact state no longer fits.

The reference engine keeps exact pandas state over <=5,000 rows
(dashboard.py:236-303); at cluster scale the same questions ("how hot
is this term?", "have we ingested this document before?") are answered
with mergeable sketches. Both operators here follow the repo's
"measure, don't guess" audit shape (``dedup_lsh_calibration``,
``sim_ann_recall_eval``): they publish the sketch's answer NEXT TO the
exact answer so the error is a measured column, not an assumption.

Exactness discipline: the sketches themselves are deterministic —
bucket/bit positions come from the md5-hex-prefix hash the sampling
suite already uses (cross-engine identical) — so sketch contents,
estimates, and error columns are exact integers on both engines.

Scale shapes:
- CMS: per-term frequencies aggregate once (the only corpus-sized
  shuffle, map-side combined); the sketch is then built from the
  VOCABULARY-sized tf table, and the sketch itself is WIDTH x DEPTH
  cells regardless of corpus size. Cells combine associatively
  (integer sums), i.e. per-partition partial sketches merge — the
  property that makes CMS streamable and why Spark can fold it
  map-side. WIDTH=16 is a demo setting sized to the fixture's 31-term
  vocabulary so collisions actually exercise the min; production uses
  2**20+ buckets — same plan, still O(1) state.
- Bloom: the member side (history digests) collapses to <=NBITS set
  bits — broadcast to every probe partition, exactly how a production
  incremental-dedup run ships a bloom of 100 TB of history instead of
  anti-joining it (``dedup_incremental_ingest`` is the exact-join
  twin; the bloom is its candidate pre-filter — only bloom-positives
  pay the exact join). False positives are the price, and this
  operator MEASURES them per source against exact membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions.ngrams import (
    regex_word_ngrams,
)
from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (
    _ORACLE_NGRAMS,
    BENCH_MOD,
    DECON_N,
)
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import (
    load,
    load_rebalanced,
)

# ---------------------------------------------------------------------------
# Count-min sketch

CMS_WIDTH = 16  # buckets per hash row (demo-sized; see module docstring)
CMS_DEPTH = 4  # independent hash rows
CMS_TOP_N = 15  # heavy hitters audited
CMS_TAG = "cms_v1"


def _md5_mod(expr: str, mod: int) -> F.Column:
    """First 8 md5 hex digits of ``expr`` (a SQL string expression) as
    a bigint mod ``mod`` — the cross-engine-deterministic hash the
    sampling and DSIR suites already use (< 2**32, so pmod == %)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.expr(expr)), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(mod),
    )


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit: build a {CMS_DEPTH}x{CMS_WIDTH} CMS over
    the corpus term stream, then publish, for the {CMS_TOP_N} exact
    heavy hitters, the exact count next to the sketch estimate and the
    collision overcount (>= 0 by the CMS one-sided guarantee — pinned
    in tests).

    Plan: one corpus-sized explode+aggregate produces per-term
    frequencies; everything after (sketch cells, top-N window, probe
    join) is vocabulary- or sketch-sized. The two consumers of the tf
    aggregate share a canonical subtree, so Spark's ReuseExchange
    serves both from one shuffle."""
    docs = load_rebalanced(spark, "documents", sf_dir)
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = F.explode(
        F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    ).alias("r")
    bucket = _md5_mod(
        f"concat('{CMS_TAG}', cast(r AS string), '#', term)", CMS_WIDTH
    ).alias("bucket")
    cells = (
        tf.select("term", "c", rows)
        .select("c", "r", bucket)
        .groupBy("r", "bucket")
        .agg(F.sum("c").alias("cell_cnt"))
    )
    # Distributed top-N (TakeOrderedAndProject) FIRST — a global rank
    # window over tf would drag the whole vocabulary to one partition,
    # which a web-scale corpus does not forgive. The rank window then
    # runs over only the N survivors.
    top = (
        tf.orderBy(F.desc("c"), F.asc("term"))
        .limit(CMS_TOP_N)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("c"), F.asc("term"))
            ),
        )
        .withColumnRenamed("c", "exact_cnt")
    )
    probes = top.select("rk", "term", "exact_cnt", rows).select(
        "rk", "term", "exact_cnt", "r", bucket
    )
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("rk", "term", "exact_cnt")
        .agg(F.min("cell_cnt").alias("est_cnt"))
        .select(
            "rk",
            "term",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination pre-filter

BLOOM_BITS = 8192
BLOOM_HASHES = 3
BLOOM_TAG = "bloom_v1"
# Benchmark slice and gram size are IMPORTED from
# curation.decontaminate_holdout so the exact pass and its bloom
# pre-filter can never disagree about what "contaminated" means.
BLOOM_MOD = BENCH_MOD
BLOOM_N = DECON_N


def sketch_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured false-positive audit of Bloom-filter decontamination
    (the Dolma-style production shape): the held-out benchmark slice
    (doc_id % {BLOOM_MOD} == 0, the same split as
    ``decontaminate_holdout``) collapses to a {BLOOM_BITS}-bit /
    {BLOOM_HASHES}-hash Bloom filter of its distinct word
    {BLOOM_N}-grams; every training document probes its own distinct
    grams against it. Per bloom-flagged doc: distinct grams, grams the
    bloom flags, grams ACTUALLY in the benchmark set (exact), and the
    bloom's false-positive grams.

    No-false-negative law — every exact contaminated gram is
    bloom-positive, so every ``decontaminate_holdout`` doc appears
    here with n_true_hit_grams intact — is pinned in tests. That is
    what makes the bloom a safe pre-filter: bloom-negative docs (the
    overwhelming majority at a well-sized BLOOM_BITS) skip the exact
    gram join entirely; only flagged docs pay it, and this audit
    measures exactly how many of those payments were collision waste.

    Scale shape: the filter is <= {BLOOM_BITS} set-bit rows no matter
    how big the benchmark suite is — broadcast; training grams hash
    map-side ({BLOOM_HASHES} integer hashes per distinct gram); the
    only corpus-sized shuffle is the per-(doc, gram) rollup the exact
    decontamination pass needs anyway."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = docs.select(
        "doc_id",
        (F.col("doc_id") % BLOOM_MOD == 0).alias("is_bench"),
        F.explode(
            F.array_distinct(regex_word_ngrams(F.col("text"), BLOOM_N))
        ).alias("gram"),
    )
    bench_grams = (
        grams.filter("is_bench")
        .select("gram")
        .distinct()
        .withColumn("in_bench", F.lit(1))
    )
    hashes = F.explode(
        F.array(*[F.lit(i) for i in range(BLOOM_HASHES)])
    ).alias("i")
    bitpos = _md5_mod(
        f"concat('{BLOOM_TAG}', cast(i AS string), '#', gram)",
        BLOOM_BITS,
    ).alias("bitpos")
    set_bits = (
        bench_grams.select("gram", hashes)
        .select(bitpos)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.filter(~F.col("is_bench"))
    per_gram = (
        train.select("doc_id", "gram", hashes)
        .select("doc_id", "gram", bitpos)
        .join(F.broadcast(set_bits), "bitpos", "left")
        .groupBy("doc_id", "gram")
        .agg((F.count("hit") == BLOOM_HASHES).alias("bloom_pos"))
    )
    flagged = per_gram.join(F.broadcast(bench_grams), "gram", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if("bloom_pos").alias("n_bloom_hit_grams"),
            F.count("in_bench").alias("n_true_hit_grams"),
            F.count_if(
                F.col("bloom_pos") & F.col("in_bench").isNull()
            ).alias("n_false_pos_grams"),
        )
        .filter(F.col("n_bloom_hit_grams") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_hit_grams",
            "n_true_hit_grams",
            "n_false_pos_grams",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (from-scratch, exact-oracle twin of the
# built-in Datasketches path in analytics.approx_hll_partials — that
# one is rows-only because the JVM sketch bytes have no DuckDB twin;
# this one is hash-certified because every register is derived from
# the repo's cross-engine md5 hash in exact integer arithmetic).

HLL_M = 64  # registers (demo-sized; production uses 2**12+ — same plan)
HLL_W_BITS = 26  # rho-space bits left of the 32-bit hash after bucketing
HLL_RHO_MAX = HLL_W_BITS + 1  # all-zero suffix convention
HLL_TAG = "hll_v1"
# alpha_64 = 0.709 (Flajolet et al. 2007) as an exact rational so the
# estimate is integer-identical on both engines.
HLL_ALPHA_NUM = 709
HLL_ALPHA_DEN = 1000
# est = alpha * m^2 / sum(2^-M_j); registers scaled by 2^RHO_MAX keeps
# everything integral: est = _HLL_EST_NUM div (ALPHA_DEN * S_scaled).
_HLL_EST_NUM = HLL_ALPHA_NUM * HLL_M * HLL_M * (1 << HLL_RHO_MAX)

# Content fingerprint shared with profile_source_overlap /
# profile_dup_rate_by_source (sorted-distinct-words md5) so the sketch
# estimates the SAME distinct-count those exact audits report.
_FP_SPARK = "md5(concat_ws(' ', array_sort(array_distinct(split(text, ' ')))))"
_FP_ORACLE = (
    "md5(array_to_string(list_sort(list_distinct("
    "string_split(text, ' '))), ' '))"
)


def hll_register_cols(item_sql: str) -> tuple[F.Column, F.Column]:
    """(bucket, rho) register columns for an arbitrary item
    expression — the SAME hash/bucket/rho math as
    sketch_hll_distinct (equality pinned against the python reference
    in tests). Used by the streaming twin
    (streaming/windowed.py::hll_distinct_stream) so incremental and
    batch registers can never drift. Repeated subexpressions collapse
    in codegen (common-subexpression elimination)."""
    h = (
        f"cast(conv(substr(md5(concat('{HLL_TAG}#', {item_sql})), 1, 8),"
        " 16, 10) as bigint)"
    )
    bucket = F.expr(f"cast(({h}) % {HLL_M} as int)").alias("bucket")
    rho = F.expr(
        f"case when ({h}) div {HLL_M} = 0 then {HLL_RHO_MAX}"
        f" else {HLL_RHO_MAX} - length(bin(({h}) div {HLL_M})) end"
    ).alias("rho")
    return bucket, rho


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-fingerprint audit: per-source HLL
    registers over document content fingerprints, plus the 'ALL' row
    whose registers are (by grouping-sets construction, and pinned in
    tests) the element-wise MAX of the per-source registers — the
    union-merge law that makes HLL the way a 1000-executor job counts
    distincts without a corpus-wide shuffle: each partition keeps
    {HLL_M} integers, merge is max, only registers cross the wire.

    Published next to the sketch answer, per the repo's audit shape:
    the EXACT distinct count and the signed error in ppm. Raw
    Flajolet estimator only (no small-range linear-counting branch —
    it needs ln(); the n_zero_regs column publishes the ingredient so
    a consumer can apply it); the audit MEASURES what raw HLL gets
    wrong at this cardinality instead of assuming.

    Exactness: bucket = md5-32bit % {HLL_M}; rho = leading zeros of
    the remaining {HLL_W_BITS} bits + 1, computed via length(bin(w))
    — both engines print minimal binary strings, so rho is exact
    integer cross-engine (no libm log2, which can misround at power-
    of-two boundaries). Estimate is one integer division of exact
    scaled sums.

    Scale shape: ONE corpus-sized hash aggregate (grouping sets over
    (source,bucket)+(bucket), map-side combinable max); everything
    after is register-table-sized (sources x {HLL_M} rows)."""
    docs = load(spark, "documents", sf_dir)
    h = F.expr(
        f"cast(conv(substr(md5(concat('{HLL_TAG}#', {_FP_SPARK})), 1, 8),"
        " 16, 10) as bigint)"
    )
    hashed = (
        docs.select("source", h.alias("h"))
        .select(
            "source",
            (F.col("h") % HLL_M).cast("int").alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(HLL_RHO_MAX)).otherwise(
                F.lit(HLL_RHO_MAX) - F.length(F.expr("bin(w)"))
            ),
        )
    )
    regs = (
        hashed.groupingSets(
            [["source", "bucket"], ["bucket"]], "source", "bucket"
        )
        .agg(F.max("rho").alias("m"))
        .select(F.coalesce("source", F.lit("ALL")).alias("src"), "bucket", "m")
    )
    summary = regs.groupBy("src").agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {HLL_RHO_MAX} - m)")
        ).alias("s_occ"),
        F.count(F.lit(1)).alias("n_occ"),
        F.max("m").alias("max_rho"),
    )
    exact = (
        docs.select("source", F.expr(_FP_SPARK).alias("digest"))
        .groupingSets([["source"], []], "source")
        .agg(F.count_distinct("digest").alias("exact_distinct"))
        .select(F.coalesce("source", F.lit("ALL")).alias("src"), "exact_distinct")
    )
    return (
        summary.join(exact, "src")
        .withColumn("n_zero_regs", F.lit(HLL_M) - F.col("n_occ"))
        .withColumn(
            "s_scaled",
            F.col("s_occ")
            + F.col("n_zero_regs") * F.lit(1 << HLL_RHO_MAX).cast("bigint"),
        )
        .withColumn(
            "est_hll",
            F.expr(
                f"cast({_HLL_EST_NUM} as bigint)"
                f" div ({HLL_ALPHA_DEN} * s_scaled)"
            ),
        )
        .select(
            "src",
            "exact_distinct",
            "est_hll",
            F.expr(
                "(est_hll - exact_distinct) * 1000000 div exact_distinct"
            ).alias("err_ppm"),
            F.col("n_zero_regs").cast("bigint").alias("n_zero_regs"),
            F.col("max_rho").cast("int").alias("max_rho"),
        )
        .orderBy("src")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch: estimated source-overlap matrix —
# the sketch twin of profile_source_overlap's EXACT pairwise Jaccard.

KMV_K = 32
KMV_TAG = "kmv_v1"


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-estimated pairwise source overlap, audited against the
    exact Jaccard: each source keeps only its {KMV_K} smallest
    fingerprint hashes; a pair's Jaccard is estimated from the
    {KMV_K} smallest hashes of the sketch UNION (matches present in
    both sketches / k — Beyer et al. 2007). Published next to
    profile_source_overlap's exact jaccard_ppm with the signed error.

    Why it matters at 100 TB: the exact matrix pays a digest-level
    pair join over the whole corpus; the KMV matrix pays ONE corpus
    pass to build {KMV_K}-row sketches, then a 190-pair join over
    sketch rows only — at 1000 sources that is the difference between
    a corpus-squared shuffle and half a million 64-row unions.

    Exactness: hashes are the md5-32bit integers used repo-wide; the
    k-smallest sets, match counts, and ppm ratios are exact integers
    on both engines (set semantics on hash VALUES, so a 32-bit
    collision degrades the estimate, not the determinism — that is
    the real KMV failure mode and the audit would show it)."""
    docs = load(spark, "documents", sf_dir)
    h = F.expr(
        f"cast(conv(substr(md5(concat('{KMV_TAG}#', {_FP_SPARK})), 1, 8),"
        " 16, 10) as bigint)"
    )
    sh = docs.select("source", h.alias("h")).distinct()
    # The sketch is one K-array per source — model-state-sized, same
    # class as the k-means centroid round-trips (similarity.py). Both
    # legs of the source-pair join read the same sketch exchange, which
    # Spark reuses, so the corpus pass runs once; every pair operation
    # after it is array-local over two K-arrays.
    sketch = (
        sh.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy("h")
            ),
        )
        .filter(F.col("rk") <= KMV_K)
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
    )
    sa = sketch.select(F.col("source").alias("source_a"), F.col("hs").alias("ha"))
    sb = sketch.select(F.col("source").alias("source_b"), F.col("hs").alias("hb"))
    # Per-pair sketch union: the K smallest hashes of ha ∪ hb, and how
    # many of them sit in both sketches.
    est = (
        sa.join(sb, F.col("source_a") < F.col("source_b"))
        .withColumn(
            "u", F.slice(F.array_sort(F.array_union("ha", "hb")), 1, KMV_K)
        )
        .select(
            "source_a",
            "source_b",
            F.size("u").alias("ku"),
            F.size(
                F.filter(
                    "u",
                    lambda x: F.array_contains("ha", x)
                    & F.array_contains("hb", x),
                )
            ).alias("matches"),
        )
    )
    ds = docs.select(F.expr(_FP_SPARK).alias("digest"), "source").distinct()
    per_source = ds.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    shared = (
        a.join(b, "digest")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    exact = (
        est.select("source_a", "source_b")
        .join(shared, ["source_a", "source_b"], "left")
        .join(
            F.broadcast(
                per_source.select(
                    F.col("source").alias("source_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                per_source.select(
                    F.col("source").alias("source_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.expr(
                "coalesce(n_shared, 0) * 1000000"
                " div (n_a + n_b - coalesce(n_shared, 0))"
            ).alias("jaccard_exact_ppm"),
        )
    )
    return (
        est.join(exact, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            F.col("ku").cast("bigint").alias("ku"),
            F.col("matches").cast("bigint").alias("matches"),
            F.expr("matches * 1000000 div ku").alias("jaccard_est_ppm"),
            "jaccard_exact_ppm",
            F.expr(
                "matches * 1000000 div ku - jaccard_exact_ppm"
            ).alias("err_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


HIST_BINS = 256  # equi-width bins (demo-sized; production 4-64k, same plan)
HIST_PROBES = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]


def sketch_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch audited against the exact order
    statistic — the quantile member of the sketch family (HLL =
    distinct, CMS = frequency, KMV = overlap, Bloom = membership).
    A fixed equi-width bin table IS a mergeable quantile summary: bin
    counts merge by addition across partitions/batches/days (the same
    merge law the HLL register-max obeys), so at 100 TB the exact
    global sort behind percentile_disc is replaced by one map-side
    histogram + a 256-row cumulative scan, with error bounded by bin
    width. The output reports, per probed quantile, the sketch
    estimate (upper edge of the covering bin), the exact value, and
    the realized error in ppm — the calibration that tells a pipeline
    whether B bins suffice for its value distribution.

    Exactness of the AUDIT itself: bucket index and bin upper edge are
    pure integer arithmetic ((x-mn)*B div (mx-mn+1); mn +
    ((b+1)*(mx-mn+1)-1) div B), the rank target is ceil(q*n) in
    integers, and the exact twin is the nearest-rank order statistic —
    every column engine-identical.

    Scale shape: one bounds pass, one map-side-combined bucket count
    (≤B rows cross the shuffle), one B-row window. The exact twin is
    HISTOGRAM-ASSISTED SELECTION — the sketch locates each quantile's
    covering bin and its within-bin rank, then the k-th order statistic
    is selected from that single bin's rows (n/B of the data, one
    row_number window per probe) — i.e. the sketch accelerates its own
    audit, and no percentile ever funnels the full column through one
    reducer (a naive global percentile_disc is exactly that funnel;
    measured 8.1 -> 2.1 s at sf0.1 on this box, and the gap grows with
    n). Rebalanced load so the passes fan out on single-rowgroup
    fixtures (no-op on real layouts)."""
    li = load_rebalanced(spark, "lineitem", sf_dir).select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    bounds = li.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    withb = li.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket", F.expr(f"(x - mn) * {HIST_BINS} div (mx - mn + 1)")
    )
    bins = withb.groupBy("mn", "mx", "n", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.withColumn("cum", F.sum("c").over(w))
    sel_aggs = []
    for label, num, den in HIST_PROBES:
        k = f"({num} * n + {den - 1}) div {den}"
        sel_aggs.append(
            F.min(
                F.when(F.expr(f"cum >= {k}"), F.col("bucket"))
            ).alias(f"b_{label}")
        )
        # Within-bin rank of the k-th order statistic: k minus the
        # cumulative count BEFORE the covering bin (cum - c is monotone,
        # so min over qualifying bins is the covering bin's value).
        sel_aggs.append(
            F.expr(f"{k} - min(CASE WHEN cum >= {k} THEN cum - c END)")
            .alias(f"rk_{label}")
        )
    one = cum.groupBy("mn", "mx", "n").agg(*sel_aggs)
    probe_stack = ", ".join(
        f"'{label}', b_{label}, rk_{label},"
        f" cast(mn + ((b_{label} + 1) * (mx - mn + 1) - 1)"
        f" div {HIST_BINS} as bigint)"
        for label, _, _ in HIST_PROBES
    )
    probes = one.select(
        F.expr(
            f"stack({len(HIST_PROBES)}, {probe_stack})"
            " AS (quantile, bstar, rk, est_cents)"
        )
    )
    wsel = Window.partitionBy("quantile").orderBy("x")
    exact = (
        withb.join(
            F.broadcast(probes), F.col("bucket") == F.col("bstar")
        )
        .withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == F.col("rk"))
        .select("quantile", "est_cents", F.col("x").alias("exact_cents"))
    )
    return exact.select(
        "quantile",
        "est_cents",
        "exact_cents",
        F.expr(
            "abs(est_cents - exact_cents) * 1000000 div exact_cents"
        ).alias("err_ppm"),
    ).orderBy("quantile")


QUERIES = {
    "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
    "sketch_bloom_decontaminate": sketch_bloom_decontaminate,
    "sketch_hll_distinct": sketch_hll_distinct,
    "sketch_kmv_overlap": sketch_kmv_overlap,
    "sketch_quantile_histogram": sketch_quantile_histogram,
}

ORACLES = {
    "sketch_quantile_histogram": f"""
        WITH li AS (
            SELECT cast(cast(l_extendedprice AS decimal(18,2)) * 100
                        AS bigint) AS x
            FROM lineitem
        ),
        b AS (
            SELECT min(x) AS mn, max(x) AS mx,
                   cast(count(*) AS bigint) AS n
            FROM li
        ),
        bins AS (
            SELECT (x - mn) * {HIST_BINS} // (mx - mn + 1) AS bucket,
                   cast(count(*) AS bigint) AS c
            FROM li, b
            GROUP BY 1
        ),
        cum AS (
            SELECT bucket,
                   sum(c) OVER (ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM bins
        ),
        sel AS (
            SELECT
                min(CASE WHEN cum >= (1 * n + 1) // 2
                         THEN bucket END) AS b_p50,
                min(CASE WHEN cum >= (9 * n + 9) // 10
                         THEN bucket END) AS b_p90,
                min(CASE WHEN cum >= (99 * n + 99) // 100
                         THEN bucket END) AS b_p99
            FROM cum, b
        ),
        ex AS (
            SELECT quantile_disc(x, 0.5) AS x_p50,
                   quantile_disc(x, 0.9) AS x_p90,
                   quantile_disc(x, 0.99) AS x_p99
            FROM li
        ),
        rows3 AS (
            SELECT 'p50' AS quantile,
                   cast(mn + ((b_p50 + 1) * (mx - mn + 1) - 1)
                        // {HIST_BINS} AS bigint) AS est_cents,
                   x_p50 AS exact_cents
            FROM sel, b, ex
            UNION ALL
            SELECT 'p90',
                   cast(mn + ((b_p90 + 1) * (mx - mn + 1) - 1)
                        // {HIST_BINS} AS bigint),
                   x_p90
            FROM sel, b, ex
            UNION ALL
            SELECT 'p99',
                   cast(mn + ((b_p99 + 1) * (mx - mn + 1) - 1)
                        // {HIST_BINS} AS bigint),
                   x_p99
            FROM sel, b, ex
        )
        SELECT quantile, est_cents, exact_cents,
               cast(abs(est_cents - exact_cents) * 1000000 // exact_cents
                    AS bigint) AS err_ppm
        FROM rows3
        ORDER BY quantile
    """,
    "sketch_cms_heavy_hitters": f"""
        WITH tf AS (
            SELECT term, cast(count(*) AS bigint) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY term
        ),
        hrows AS (SELECT unnest(range({CMS_DEPTH})) AS r),
        cells AS (
            SELECT r,
                   (cast(concat('0x', substr(md5(
                        '{CMS_TAG}' || cast(r AS varchar) || '#' || term),
                        1, 8)) AS bigint) % {CMS_WIDTH}) AS bucket,
                   cast(sum(c) AS bigint) AS cell_cnt
            FROM tf CROSS JOIN hrows
            GROUP BY 1, 2
        ),
        top AS (
            SELECT rk, term, exact_cnt FROM (
                SELECT term, c AS exact_cnt,
                       cast(row_number() OVER (ORDER BY c DESC, term)
                            AS int) AS rk
                FROM tf)
            WHERE rk <= {CMS_TOP_N}
        ),
        probes AS (
            SELECT rk, term, exact_cnt, r,
                   (cast(concat('0x', substr(md5(
                        '{CMS_TAG}' || cast(r AS varchar) || '#' || term),
                        1, 8)) AS bigint) % {CMS_WIDTH}) AS bucket
            FROM top CROSS JOIN hrows
        )
        SELECT rk, term, exact_cnt,
               cast(min(cell_cnt) AS bigint) AS est_cnt,
               cast(min(cell_cnt) - exact_cnt AS bigint) AS overcount
        FROM probes JOIN cells USING (r, bucket)
        GROUP BY rk, term, exact_cnt
        ORDER BY rk
    """,
    "sketch_bloom_decontaminate": f"""
        WITH grams AS ({_ORACLE_NGRAMS}),
        bench AS (SELECT DISTINCT gram FROM grams WHERE is_bench),
        hashes AS (SELECT unnest(range({BLOOM_HASHES})) AS i),
        set_bits AS (
            SELECT DISTINCT
                   (cast(concat('0x', substr(md5(
                        '{BLOOM_TAG}' || cast(i AS varchar) || '#'
                        || gram), 1, 8)) AS bigint) % {BLOOM_BITS})
                       AS bitpos
            FROM bench CROSS JOIN hashes
        ),
        per_gram AS (
            SELECT doc_id, gram,
                   count(s.bitpos) = {BLOOM_HASHES} AS bloom_pos
            FROM (SELECT doc_id, gram,
                         (cast(concat('0x', substr(md5(
                              '{BLOOM_TAG}' || cast(i AS varchar) || '#'
                              || gram), 1, 8)) AS bigint) % {BLOOM_BITS})
                             AS bitpos
                  FROM grams CROSS JOIN hashes
                  WHERE NOT is_bench) p
            LEFT JOIN set_bits s USING (bitpos)
            GROUP BY doc_id, gram
        ),
        flagged AS (
            SELECT g.doc_id, g.bloom_pos, b.gram IS NOT NULL AS in_bench
            FROM per_gram g LEFT JOIN bench b USING (gram)
        )
        SELECT doc_id,
               cast(count(*) AS bigint) AS n_grams,
               cast(count(*) FILTER (WHERE bloom_pos) AS bigint)
                   AS n_bloom_hit_grams,
               cast(count(*) FILTER (WHERE in_bench) AS bigint)
                   AS n_true_hit_grams,
               cast(count(*) FILTER (WHERE bloom_pos AND NOT in_bench)
                    AS bigint) AS n_false_pos_grams
        FROM flagged GROUP BY doc_id
        HAVING count(*) FILTER (WHERE bloom_pos) > 0
        ORDER BY doc_id
    """,
    "sketch_hll_distinct": f"""
        WITH hashed AS (
            SELECT source,
                   cast(h % {HLL_M} AS int) AS bucket,
                   h // {HLL_M} AS w
            FROM (SELECT source,
                         cast(concat('0x', substr(md5(
                              '{HLL_TAG}#' || {_FP_ORACLE}), 1, 8))
                              AS bigint) AS h
                  FROM documents)
        ),
        rho AS (
            SELECT source, bucket,
                   CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                        ELSE {HLL_RHO_MAX} - length(bin(w)) END AS rho
            FROM hashed
        ),
        regs AS (
            SELECT coalesce(source, 'ALL') AS src, bucket,
                   max(rho) AS m
            FROM rho GROUP BY GROUPING SETS ((source, bucket), (bucket))
        ),
        summary AS (
            SELECT src,
                   cast(sum(cast(1 AS bigint) << ({HLL_RHO_MAX} - m))
                        AS bigint) AS s_occ,
                   cast(count(*) AS bigint) AS n_occ,
                   cast(max(m) AS int) AS max_rho
            FROM regs GROUP BY src
        ),
        exact AS (
            SELECT coalesce(source, 'ALL') AS src,
                   cast(count(DISTINCT digest) AS bigint)
                       AS exact_distinct
            FROM (SELECT source, {_FP_ORACLE} AS digest FROM documents)
            GROUP BY GROUPING SETS ((source), ())
        ),
        est AS (
            SELECT src, exact_distinct,
                   cast({_HLL_EST_NUM} // ({HLL_ALPHA_DEN} *
                        (s_occ + ({HLL_M} - n_occ)
                         * cast({1 << HLL_RHO_MAX} AS bigint)))
                        AS bigint) AS est_hll,
                   cast({HLL_M} - n_occ AS bigint) AS n_zero_regs,
                   max_rho
            FROM summary JOIN exact USING (src)
        )
        SELECT src, exact_distinct, est_hll,
               cast((est_hll - exact_distinct) * 1000000
                    // exact_distinct AS bigint) AS err_ppm,
               n_zero_regs, max_rho
        FROM est ORDER BY src
    """,
    "sketch_kmv_overlap": f"""
        WITH sh AS (
            SELECT DISTINCT source,
                   cast(concat('0x', substr(md5(
                        '{KMV_TAG}#' || {_FP_ORACLE}), 1, 8))
                        AS bigint) AS h
            FROM documents
        ),
        sketch AS (
            SELECT source, h FROM (
                SELECT source, h,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY h) AS rk
                FROM sh)
            WHERE rk <= {KMV_K}
        ),
        prs AS (
            SELECT a.source AS source_a, b.source AS source_b
            FROM (SELECT DISTINCT source FROM sketch) a
            JOIN (SELECT DISTINCT source FROM sketch) b
              ON a.source < b.source
        ),
        u AS (
            SELECT source_a, source_b, h,
                   max(in_a) AS in_a, max(in_b) AS in_b
            FROM (
                SELECT p.source_a, p.source_b, s.h,
                       1 AS in_a, NULL AS in_b
                FROM prs p JOIN sketch s ON s.source = p.source_a
                UNION ALL
                SELECT p.source_a, p.source_b, s.h,
                       NULL AS in_a, 1 AS in_b
                FROM prs p JOIN sketch s ON s.source = p.source_b)
            GROUP BY source_a, source_b, h
        ),
        topk AS (
            SELECT * FROM (
                SELECT u.*,
                       row_number() OVER (PARTITION BY source_a, source_b
                                          ORDER BY h) AS rk
                FROM u)
            WHERE rk <= {KMV_K}
        ),
        est AS (
            SELECT source_a, source_b,
                   cast(count(*) AS bigint) AS ku,
                   cast(count(*) FILTER (WHERE in_a IS NOT NULL
                                           AND in_b IS NOT NULL)
                        AS bigint) AS matches
            FROM topk GROUP BY source_a, source_b
        ),
        ds AS (
            SELECT DISTINCT {_FP_ORACLE} AS digest, source
            FROM documents
        ),
        per_source AS (
            SELECT source, cast(count(*) AS bigint) AS n
            FROM ds GROUP BY source
        ),
        shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   cast(count(*) AS bigint) AS n_shared
            FROM ds a JOIN ds b USING (digest)
            WHERE a.source < b.source
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT e.source_a, e.source_b,
                   cast(coalesce(sh2.n_shared, 0) * 1000000
                        // (na.n + nb.n - coalesce(sh2.n_shared, 0))
                        AS bigint) AS jaccard_exact_ppm
            FROM est e
            LEFT JOIN shared sh2 USING (source_a, source_b)
            JOIN per_source na ON na.source = e.source_a
            JOIN per_source nb ON nb.source = e.source_b
        )
        SELECT est.source_a, est.source_b, ku, matches,
               cast(matches * 1000000 // ku AS bigint)
                   AS jaccard_est_ppm,
               jaccard_exact_ppm,
               cast(matches * 1000000 // ku - jaccard_exact_ppm
                    AS bigint) AS err_ppm
        FROM est JOIN exact USING (source_a, source_b)
        ORDER BY source_a, source_b
    """,
}
