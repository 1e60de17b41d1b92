"""Deterministic sampling / dataset-splitting operators.

A training-data pipeline needs reproducible sampling: the same row
must land in the same split on every run, every engine, every cluster
size — which rules out ``rand()`` (task-order dependent) and engine
hash functions (xxhash64 has no DuckDB twin). The portable primitive
is md5 over a tagged key: uniform, seedable via the tag, and
bit-identical everywhere. The first 6 hex chars give 24 uniform bits
— plenty for percentage buckets.

All three operators are pure per-row projections or standard
aggregations: scan-parallel at any scale, no shuffle beyond the
final aggregation where one exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

HOLDOUT_PCT = 10
SAMPLE_PCT = 10


def _hash_bucket(key, tag: str):
    """Uniform bucket 0..99 from md5 over a tagged key — deterministic
    across engines/runs/partitionings (unlike rand() or xxhash64)."""
    h6 = F.substring(F.md5(F.concat_ws("#", F.lit(tag), key)), 1, 6)
    return F.pmod(F.conv(h6, 16, 10).cast("bigint"), F.lit(100))


def _oracle_bucket(key: str, tag: str) -> str:
    return (
        f"cast(concat('0x', substr(md5('{tag}' || '#' || "
        f"cast({key} AS varchar)), 1, 6)) AS bigint) % 100"
    )


def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/holdout split of the document corpus: every
    doc maps to a stable bucket; bucket >= 90 is the holdout. Changing
    the tag re-rolls the split; adding documents never reassigns
    existing ones (the property a growing corpus needs)."""
    docs = load(spark, "documents", sf_dir)
    bucket = _hash_bucket(F.col("doc_id"), "split_v1")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket >= 100 - HOLDOUT_PCT, "holdout")
        .otherwise("train")
        .alias("split"),
    )


def sample_events_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample of events — the debug/dev
    subset that is the SAME subset on every engine and run."""
    ev = load(spark, "events", sf_dir)
    return ev.filter(
        _hash_bucket(F.col("event_id"), "sample_v1") < SAMPLE_PCT
    ).select("event_id", "user_id", "event_type", "value")


def agg_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the explicit two-phase shape:
    dedup on (type, user) first — map-side combine collapses each
    partition's duplicates before the shuffle — then count per type.
    This is what COUNT(DISTINCT) must become at 100 TB (and what
    Catalyst rewrites it to); spelled out so the intermediate is
    available for reuse (e.g. a distinct-users materialization)."""
    ev = load(spark, "events", sf_dir)
    per_user = ev.select("event_type", "user_id").distinct()
    return (
        per_user.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


TARGET_PER_STRATUM = 40


def sample_stratified_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-language downsample: keep a document iff
    bucket * stratum_n < TARGET * 100, giving ~TARGET docs per language
    regardless of stratum skew (strata smaller than TARGET keep
    everything). The acceptance test is an exact integer comparison on
    the same md5 bucket as the other splits — deterministic across
    engines and cluster sizes — and the per-stratum counts arrive by
    broadcast, so the corpus scan stays shuffle-free."""
    docs = load(spark, "documents", sf_dir)
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("stratum_n")
    )
    bucket = _hash_bucket(F.col("doc_id"), "strat_v1")
    return (
        docs.join(F.broadcast(counts), "lang")
        .withColumn("bucket", bucket)
        .filter(
            F.col("bucket") * F.col("stratum_n")
            < F.lit(TARGET_PER_STRATUM * 100)
        )
        .select("doc_id", "lang", "bucket", "stratum_n")
    )


def shuffle_global_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a dense position 0..N-1 in md5-hash order — the reproducible
    "shuffled dataset" a pretraining run consumes, identical on every
    engine, run, and cluster size.

    A naive ``row_number() OVER (ORDER BY hash)`` is a single-reducer
    global sort. The distributed form here is the classic two-phase
    rank: (1) bucket by the hash's first byte (256 buckets), (2) count
    rows per bucket — a 256-row aggregate, broadcast back as exclusive
    prefix-sum offsets, (3) rank WITHIN each bucket (256-way parallel
    window) and add the bucket's offset. Because the bucket is the
    hash's most-significant byte, within-bucket hash order concatenated
    in bucket order IS the global hash order — same answer as the
    naive plan, shuffle bounded by the bucket count, not the corpus.
    md5 collisions are broken by doc_id so the order is total even if
    two keys ever hashed alike."""
    from pyspark.sql import Window

    docs = load(spark, "documents", sf_dir)
    h = F.md5(F.concat_ws("#", F.lit("shuffle_v1"), F.col("doc_id")))
    keyed = docs.select("doc_id", h.alias("h"), F.substring(h, 1, 2).alias("b"))
    offsets = (
        keyed.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "b",
            (
                F.sum("n").over(
                    Window.orderBy("b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                )
            ).alias("offset"),
        )
        .fillna(0, ["offset"])
    )
    wb = Window.partitionBy("b").orderBy("h", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "b")
        .select(
            "doc_id",
            (F.row_number().over(wb) - 1 + F.col("offset")).alias(
                "shuffle_pos"
            ),
        )
    )


def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering: documents are staged by
    Gopher quality score (6 = cleanest first — quality-first curricula
    front-load the best data), shuffled WITHIN each stage by seeded
    md5, and assigned a dense global position 0..N-1 — the training
    order a curriculum run consumes, reproducible on any engine, run,
    and cluster size.

    Same distributed shape as ``shuffle_global_order`` — the two-phase
    rank generalized to a compound key: bucket by (stage, hash byte),
    count per bucket (a <=7x256-row aggregate, broadcast back as
    exclusive prefix sums over stage-desc/byte-asc order), rank within
    each bucket in parallel, add the offset. No single-reducer global
    sort anywhere; shuffle is bounded by the bucket count."""
    from pyspark.sql import Window

    from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (
        gopher_score_column,
    )

    docs = load(spark, "documents", sf_dir)
    h = F.md5(F.concat_ws("#", F.lit("curriculum_v1"), F.col("doc_id")))
    keyed = docs.select(
        "doc_id",
        gopher_score_column().alias("stage"),
        h.alias("h"),
        F.substring(h, 1, 2).alias("b"),
    )
    offsets = (
        keyed.groupBy("stage", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "stage",
            "b",
            F.sum("n")
            .over(
                Window.orderBy(F.desc("stage"), F.asc("b")).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("offset"),
        )
        .fillna(0, ["offset"])
    )
    wb = Window.partitionBy("stage", "b").orderBy("h", "doc_id")
    return keyed.join(F.broadcast(offsets), ["stage", "b"]).select(
        "doc_id",
        "stage",
        (F.row_number().over(wb) - 1 + F.col("offset")).alias("curriculum_pos"),
    )


DOMAIN_CAP = 15


def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the standard web-corpus curation gate
    that stops any single source from dominating the training mix: keep
    at most ``DOMAIN_CAP`` docs per source, chosen in deterministic
    md5-hash order (a reproducible uniform sample of each domain, not
    "first N by id").

    Scale shape: one shuffle on ``source``; because the predicate is
    ``row_number() <= K`` over the partition, Spark plans a
    WindowGroupLimit that prunes each group to K rows MAP-SIDE before
    the exchange — a hot domain's millions of docs never travel, only
    its K survivors per input partition do."""
    from pyspark.sql import Window

    docs = load(spark, "documents", sf_dir)
    h = F.md5(F.concat_ws("#", F.lit("domcap_v1"), F.col("doc_id")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", "lang", h.alias("h"))
        .withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= DOMAIN_CAP)
        .select("doc_id", "source", "lang", "domain_rank")
    )


# Importance-weighted sampling bands: keep probability by word-count
# band (the stand-in for a quality score — mid-length docs are the
# "high quality" band). Percent units so the md5 bucket compares with
# exact integers.
IMP_HI, IMP_MID, IMP_LO = 90, 50, 10


def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: per-doc keep probability from
    a quality proxy (word-count band), realized as an exact integer
    comparison of the md5 uniform bucket against the band's percent.

    This is the quality-weighted downsampling step of a curation
    pipeline (keep most of the good band, thin the tails) in the
    reproducible form: the kept set is a pure function of doc_id, so
    re-runs, engine swaps, and cluster resizes keep identical corpora.
    Scan-only plan — no shuffle, no UDF."""
    docs = load(spark, "documents", sf_dir)
    wc = F.size(F.split(F.col("text"), " "))
    weight = (
        F.when((wc >= 40) & (wc <= 80), IMP_HI)
        .when((wc >= 20) & (wc <= 120), IMP_MID)
        .otherwise(IMP_LO)
    )
    out = docs.select(
        "doc_id",
        "lang",
        "source",
        wc.alias("wc"),
        weight.alias("weight_pct"),
        _hash_bucket(F.col("doc_id"), "imp_v1").alias("bucket"),
    )
    return out.filter(F.col("bucket") < F.col("weight_pct"))


K_CENTERS = 6  # coreset size (Gonzalez greedy rounds)


def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding table (Gonzalez
    1985, the 2-approximation): seed with the lowest vec_id, then
    {K_CENTERS - 1} times add the vector FARTHEST from its nearest
    chosen center — the maximally-spread exemplar subset data-pruning
    and eval-set construction use when near-duplicate exemplars waste
    the budget (the corpus-level cousin of ``search_mmr_diversify``).
    Distance is 1 - cosine on the 9dp-rounded quantized kernel; each
    pick emits the max-min distance at its selection round — the
    covering radius the remaining corpus would have WITHOUT that
    center, so the emitted column traces exactly how coverage improves
    per center.

    Scale/state shape: the algorithm is round-sequential BY DEFINITION
    (pick r needs the argmax against centers 1..r-1), so each round is
    one corpus scan computing cosines against the chosen centers as
    broadcast literals and one TakeOrdered(1); driver state is the
    O(k x dim) chosen-center list — the same model-state round-trip
    the k-means/PQ training operators document
    (similarity.py:180-197). k scans of a 100 TB table are the honest
    cost of exact greedy k-center; the sublinear alternative is
    sampling first (split/sample operators compose in front)."""
    from real_time_streaming_system_with_apache_kafka_spark.functions.arrays import (
        cosine,
    )

    emb = load(spark, "embeddings", sf_dir)
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(int(seed["vec_id"]), list(seed["embedding"]))]
    out_rows = [(1, chosen[0][0], 0.0)]
    for rank in range(2, K_CENTERS + 1):
        max_cos = F.greatest(
            *[
                cosine(
                    F.col("embedding"),
                    F.array(*[F.lit(float(v)) for v in vec]),
                )
                for _, vec in chosen
            ]
        ) if len(chosen) > 1 else cosine(
            F.col("embedding"),
            F.array(*[F.lit(float(v)) for v in chosen[0][1]]),
        )
        pick = (
            emb.filter(
                ~F.col("vec_id").isin([vid for vid, _ in chosen])
            )
            .select("vec_id", "embedding", max_cos.alias("mx"))
            .orderBy(F.asc("mx"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((int(pick["vec_id"]), list(pick["embedding"])))
        out_rows.append((rank, int(pick["vec_id"]), 1.0 - pick["mx"]))
    return spark.createDataFrame(
        out_rows, "sel_rank int, vec_id bigint, dist_to_nearest double"
    ).orderBy("sel_rank")


def _kcenter_oracle_sql() -> str:
    """Chained-CTE unrolled Gonzalez rounds (the MMR/PCA oracle
    pattern): each round joins the remaining vectors against the
    selected set, takes max cosine per vector, and picks the minimum
    (= farthest) with vec_id tie-break."""
    from real_time_streaming_system_with_apache_kafka_spark.functions.arrays import (
        oracle_cosine,
    )

    parts = [
        """
        sel1 AS (
            SELECT 1 AS sel_rank, vec_id, cast(0.0 AS double) AS dist
            FROM embeddings
            WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
        )"""
    ]
    for r in range(2, K_CENTERS + 1):
        parts.append(
            f"""
        d{r} AS (
            SELECT e.vec_id,
                   max({oracle_cosine('e.embedding', 'c.embedding')})
                       AS mx
            FROM embeddings e, embeddings c
            WHERE c.vec_id IN (SELECT vec_id FROM sel{r - 1})
              AND e.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
            GROUP BY e.vec_id
        ),
        pick{r} AS (
            SELECT {r} AS sel_rank, vec_id, 1.0 - mx AS dist
            FROM (SELECT *, row_number() OVER (ORDER BY mx, vec_id)
                      AS rk FROM d{r})
            WHERE rk = 1
        ),
        sel{r} AS (
            SELECT * FROM sel{r - 1}
            UNION ALL
            SELECT sel_rank, vec_id, dist FROM pick{r}
        )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT cast(sel_rank AS int) AS sel_rank,
               cast(vec_id AS bigint) AS vec_id,
               cast(dist AS double) AS dist_to_nearest
        FROM sel{K_CENTERS}
        ORDER BY sel_rank
    """
    )


TEMPORAL_CUTOFF = "1999-07-01"  # train strictly before, test at/after


def sample_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split with a LEAKAGE AUDIT — the split
    discipline for anything forecast-shaped, where hash splits
    (split_train_holdout) silently leak the future into training. Two
    summary rows (train/test): order and revenue mass, distinct
    customers, share of orders in ppm — plus the entity-overlap audit:
    how many customers appear on BOTH sides of the cutoff and what
    fraction of each split's customer base they are (per-entity
    history crossing the boundary is exactly what a grouped/stratified
    time-series CV has to account for).

    Scale shape: one scan tags the split and aggregates
    (count/count_distinct/exact cents per side); the overlap is a
    customer-grain aggregation (count_if per side, filter both > 0)
    reduced to one broadcast row. All integer/ppm outputs.

    Reference parity: gap-fill; the reference has no notion of
    train/eval hygiene — this is pure training-pipeline surface."""
    o = load(spark, "orders", sf_dir).select(
        "o_custkey",
        (F.col("o_orderdate") < TEMPORAL_CUTOFF).alias("is_train"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    splits = o.groupBy(
        F.when(F.col("is_train"), "train").otherwise("test").alias("split")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.sum("cents").alias("revenue_cents"),
    )
    leak = (
        o.groupBy("o_custkey")
        .agg(
            F.count_if(F.col("is_train")).alias("n_tr"),
            F.count_if(~F.col("is_train")).alias("n_te"),
        )
        .agg(
            F.count_if(
                (F.col("n_tr") > 0) & (F.col("n_te") > 0)
            ).alias("leak_customers"),
            F.sum(F.expr("cast(n_tr + n_te as bigint)")).alias("t_orders"),
        )
    )
    return (
        splits.crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_orders",
            "n_customers",
            "revenue_cents",
            F.expr("n_orders * 1000000 div t_orders").alias(
                "orders_share_ppm"
            ),
            "leak_customers",
            F.expr(
                "leak_customers * 1000000 div n_customers"
            ).alias("leak_ppm"),
        )
        .orderBy("split")
    )


KS_BINS = 256  # prefix-sum buckets for the distributed ECDF


def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the
    temporal train/test splits' order-value distributions — the
    distribution-drift test that pairs with sample_temporal_split
    (did the thing we predict on CHANGE across the cutoff?) and with
    mix_drift_chi2 (categorical drift; KS is the continuous twin).
    D = max over observed values of |ECDF_train - ECDF_test|, computed
    EXACTLY over common denominator n1*n2 (no float CDFs): the max
    numerator |cum1*n2 - cum2*n1| is integer, reported in ppm via
    decimal(38,0)/hugeint, with the value where the max is attained
    (smallest such value — deterministic).

    Scale shape: the ECDF prefix sums are TWO-PHASE — per-value counts
    bucket into KS_BINS equi-width bins, bucket totals prefix-sum in a
    256-row window, and the within-bucket cumulative windows run
    PARTITIONED by bucket with the bucket offset broadcast back (the
    revenue_concentration_gini machinery) — so no single reducer ever
    sees the full distinct-value set. One scan + value-grain aggs."""
    o = load(spark, "orders", sf_dir).select(
        (F.col("o_orderdate") < TEMPORAL_CUTOFF).alias("is_train"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    bounds = o.agg(
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.count_if(F.col("is_train")).alias("n1"),
        F.count_if(~F.col("is_train")).alias("n2"),
    )
    vals = (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(
            "mn",
            "mx",
            "n1",
            "n2",
            F.expr(f"(cents - mn) * {KS_BINS} div (mx - mn + 1)").alias(
                "bucket"
            ),
            "cents",
        )
        .agg(
            F.count_if(F.col("is_train")).alias("c1"),
            F.count_if(~F.col("is_train")).alias("c2"),
        )
    )
    btot = vals.groupBy("bucket").agg(
        F.sum("c1").alias("s1"), F.sum("c2").alias("s2")
    )
    wpre = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bpre = btot.select(
        "bucket",
        F.coalesce(F.sum("s1").over(wpre), F.lit(0)).alias("p1"),
        F.coalesce(F.sum("s2").over(wpre), F.lit(0)).alias("p2"),
    )
    win = Window.partitionBy("bucket").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    diffs = (
        vals.join(F.broadcast(bpre), "bucket")
        .select(
            "cents",
            "n1",
            "n2",
            (
                F.abs(
                    (F.col("p1") + F.sum("c1").over(win)) * F.col("n2")
                    - (F.col("p2") + F.sum("c2").over(win)) * F.col("n1")
                )
            ).alias("d_num"),
        )
    )
    # One aggregate takes the distance and where it is attained: the
    # max of (d_num, -cents) is the largest d_num, at the smallest value
    # attaining it.
    return diffs.agg(
        F.min("n1").alias("n_train"),
        F.min("n2").alias("n_test"),
        F.count(F.lit(1)).alias("n_distinct_values"),
        F.max(F.struct("d_num", (-F.col("cents")).alias("neg_cents"))).alias(
            "best"
        ),
    ).select(
        "n_train",
        "n_test",
        "n_distinct_values",
        F.expr(
            "cast(best.d_num * cast(1000000 as decimal(38,0))"
            " div greatest(n_train * cast(n_test as decimal(38,0)), 1)"
            " as bigint)"
        ).alias("d_ppm"),
        (-F.col("best.neg_cents")).alias("argmax_cents"),
    )


QUERIES = {
    "split_train_holdout": split_train_holdout,
    "sample_kcenter_coreset": sample_kcenter_coreset,
    "sample_importance_weighted": sample_importance_weighted,
    "sample_domain_cap": sample_domain_cap,
    "sample_events_deterministic": sample_events_deterministic,
    "agg_distinct_twophase": agg_distinct_twophase,
    "sample_stratified_balanced": sample_stratified_balanced,
    "shuffle_global_order": shuffle_global_order,
    "sample_curriculum_order": sample_curriculum_order,
    "sample_temporal_split": sample_temporal_split,
    "stats_ks_drift": stats_ks_drift,
}

ORACLES = {
    # Naive single-window ECDF twin: the engine's two-phase bucketed
    # prefix sums must produce the identical exact D — the parity IS
    # the proof the two-phase rewrite computes the same statistic.
    "stats_ks_drift": f"""
        WITH o AS (
            SELECT o_orderdate < TIMESTAMP '{TEMPORAL_CUTOFF}' AS is_train,
                   cast(cast(o_totalprice AS decimal(18,2)) * 100
                        AS bigint) AS cents
            FROM orders
        ),
        b AS (
            SELECT cast(sum(CASE WHEN is_train THEN 1 ELSE 0 END)
                        AS bigint) AS n1,
                   cast(sum(CASE WHEN is_train THEN 0 ELSE 1 END)
                        AS bigint) AS n2
            FROM o
        ),
        vals AS (
            SELECT cents,
                   cast(sum(CASE WHEN is_train THEN 1 ELSE 0 END)
                        AS bigint) AS c1,
                   cast(sum(CASE WHEN is_train THEN 0 ELSE 1 END)
                        AS bigint) AS c2
            FROM o GROUP BY cents
        ),
        cums AS (
            SELECT cents,
                   sum(c1) OVER (ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum1,
                   sum(c2) OVER (ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum2
            FROM vals
        ),
        diffs AS (
            SELECT cents, abs(cum1 * n2 - cum2 * n1) AS d_num
            FROM cums, b
        ),
        s AS (
            SELECT max(d_num) AS d_num_max,
                   cast(count(*) AS bigint) AS n_distinct_values
            FROM diffs
        )
        SELECT n1 AS n_train, n2 AS n_test, n_distinct_values,
               cast(cast(d_num_max AS hugeint) * 1000000
                    // greatest(cast(n1 AS hugeint) * n2, 1) AS bigint)
                   AS d_ppm,
               (SELECT min(cents) FROM diffs, s
                WHERE d_num = d_num_max) AS argmax_cents
        FROM b, s
    """,
    "sample_temporal_split": f"""
        WITH o AS (
            SELECT o_custkey,
                   o_orderdate < TIMESTAMP '{TEMPORAL_CUTOFF}' AS is_train,
                   cast(cast(o_totalprice AS decimal(18,2)) * 100
                        AS bigint) AS cents
            FROM orders
        ),
        splits AS (
            SELECT CASE WHEN is_train THEN 'train' ELSE 'test' END AS split,
                   cast(count(*) AS bigint) AS n_orders,
                   cast(count(DISTINCT o_custkey) AS bigint) AS n_customers,
                   cast(sum(cents) AS bigint) AS revenue_cents
            FROM o GROUP BY 1
        ),
        leak AS (
            SELECT cast(sum(CASE WHEN n_tr > 0 AND n_te > 0
                                 THEN 1 ELSE 0 END) AS bigint)
                       AS leak_customers,
                   cast(sum(n_tr + n_te) AS bigint) AS t_orders
            FROM (SELECT o_custkey,
                         sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS n_tr,
                         sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS n_te
                  FROM o GROUP BY o_custkey)
        )
        SELECT split, n_orders, n_customers, revenue_cents,
               n_orders * 1000000 // t_orders AS orders_share_ppm,
               leak_customers,
               leak_customers * 1000000 // n_customers AS leak_ppm
        FROM splits, leak
        ORDER BY split
    """,
    "sample_importance_weighted": f"""
        WITH w AS (
            SELECT doc_id, lang, source,
                   len(string_split(text, ' ')) AS wc,
                   CASE WHEN len(string_split(text, ' ')) BETWEEN 40 AND 80
                        THEN {IMP_HI}
                        WHEN len(string_split(text, ' ')) BETWEEN 20 AND 120
                        THEN {IMP_MID}
                        ELSE {IMP_LO} END AS weight_pct,
                   {_oracle_bucket('doc_id', 'imp_v1')} AS bucket
            FROM documents
        )
        SELECT doc_id, lang, source, cast(wc AS int) AS wc,
               cast(weight_pct AS int) AS weight_pct, bucket
        FROM w WHERE bucket < weight_pct
    """,
    "sample_domain_cap": f"""
        SELECT doc_id, source, lang,
               cast(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('domcap_v1' || '#' || cast(doc_id AS varchar)),
                            doc_id
               ) AS int) AS domain_rank
        FROM documents
        QUALIFY domain_rank <= {DOMAIN_CAP}
    """,
    "split_train_holdout": f"""
        SELECT doc_id,
               {_oracle_bucket('doc_id', 'split_v1')} AS bucket,
               CASE WHEN {_oracle_bucket('doc_id', 'split_v1')} >= {100 - HOLDOUT_PCT}
                    THEN 'holdout' ELSE 'train' END AS split
        FROM documents
    """,
    "sample_events_deterministic": f"""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE {_oracle_bucket('event_id', 'sample_v1')} < {SAMPLE_PCT}
    """,
    "agg_distinct_twophase": """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "sample_stratified_balanced": f"""
        WITH c AS (SELECT lang, count(*) AS stratum_n
                   FROM documents GROUP BY lang)
        SELECT doc_id, lang,
               {_oracle_bucket('doc_id', 'strat_v1')} AS bucket,
               stratum_n
        FROM documents JOIN c USING (lang)
        WHERE {_oracle_bucket('doc_id', 'strat_v1')} * stratum_n
              < {TARGET_PER_STRATUM * 100}
    """,
    # The oracle is the naive single-sort global rank: the two-phase
    # bucketed plan must be indistinguishable in the result.
    "shuffle_global_order": """
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY md5('shuffle_v1' || '#' || cast(doc_id AS varchar)),
                            doc_id
               ) - 1 AS shuffle_pos
        FROM documents
    """,
}


def _curriculum_oracle() -> str:
    # Deferred import to module bottom: sampling is otherwise
    # curation-independent; the oracle shares the Gopher fragments so
    # the curriculum stage is definitionally the gates' score.
    from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (
        GOPHER_M_CTES,
        GOPHER_SCORE_SQL,
    )

    return f"""
        WITH {GOPHER_M_CTES},
        s AS (
            SELECT doc_id, {GOPHER_SCORE_SQL} AS stage,
                   md5('curriculum_v1' || '#' || cast(doc_id AS varchar)) AS h
            FROM gm
        )
        SELECT doc_id, stage,
               row_number() OVER (ORDER BY stage DESC, h, doc_id) - 1
                   AS curriculum_pos
        FROM s
    """


ORACLES["sample_curriculum_order"] = _curriculum_oracle()
ORACLES["sample_kcenter_coreset"] = _kcenter_oracle_sql()
