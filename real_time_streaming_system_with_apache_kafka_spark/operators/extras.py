"""Breadth extensions beyond the reference surface (SURVEY.md §2.8
notes "no array functions, no regex" in the reference; §2.4/§2.5 list
grouping sets and the rank family as free Spark built-ins).

Everything here is a built-in Catalyst expression — included so a user
migrating from the reference has the standard analytics vocabulary
available and oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions.exact import dsum, oracle_dsum
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import (
    load,
    load_rebalanced,
)


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: per-flag, per-status, and grand total in
    one pass (finer control than ROLLUP/CUBE). Pure DataFrame
    composition — no session-global temp view side effects."""
    li = load(spark, "lineitem", sf_dir)
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_quantity"), "sum_qty"),
    )


def wf_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile/percent_rank/cume_dist over a per-group
    ordering — the full §2.5 analytic-window vocabulary.

    Scale rewrite (r3): ntile/percent_rank/cume_dist depend on the
    PARTITION SIZE, so expressing them as window functions forces the
    whole partition through the window (no WindowGroupLimit — the
    plan materializes every row to emit the top 100; the r3 soak
    measured it ~linear per decade). The ordering here is TOTAL
    (o_totalprice desc, unique o_orderkey tiebreak), so rank =
    dense_rank = row_number, and every size-dependent function is a
    closed-form expression of (row_number, n) with n from a broadcast
    group-count aggregate:
      percent_rank = (r-1)/(n-1)        (0 when n = 1)
      cume_dist    = r/n                (unique keys: peers = self)
      ntile(k)     = piecewise floor — first n%k tiles get one extra
    Single IEEE divisions of exact integers, so the doubles are
    bit-identical to the real window functions; the DuckDB oracle
    KEEPS rank()/ntile()/percent_rank()/cume_dist(), proving the
    derivation. The only window left is row_number, which
    WindowGroupLimit prunes map-side before the shuffle (pinned in
    tests/test_plans.py)."""
    orders = load(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    counts = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    ranked = (
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .join(F.broadcast(counts), "o_orderpriority")
    )
    r, n = F.col("rn"), F.col("n")
    tile_q = F.expr("n div 4")
    tile_rem = n % 4
    boundary = tile_rem * (tile_q + 1)
    quartile = (
        F.when(r <= boundary, F.expr("(rn - 1) div ((n div 4) + 1)") + 1)
        .otherwise(
            tile_rem
            + F.expr("(rn - 1 - ((n % 4) * ((n div 4) + 1)))"
                     " div greatest(n div 4, 1)")
            + 1
        )
        .cast("int")
    )
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        r.cast("int").alias("rnk"),
        r.cast("int").alias("drnk"),
        quartile.alias("quartile"),
        F.when(n > 1, (r - 1) / (n - 1))
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
        (r / n).alias("cume"),
    )


def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/stddev/correlation derived from decimal-exact
    sums (sum, sum of squares, sum of cross-products), so both engines
    compute identical doubles — built-in ``stddev``/``corr`` use
    engine-specific update formulas (Welford vs sum-of-squares) that
    drift in the last ulps."""
    li = load(spark, "lineitem", sf_dir)

    def s(expr) -> F.Column:
        return F.sum(expr.cast("decimal(38,6)")).cast("double")

    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    agged = li.agg(
        F.count(F.lit(1)).alias("n"),
        s(x).alias("sx"),
        s(y).alias("sy"),
        s(x * x).alias("sxx"),
        s(y * y).alias("syy"),
        s(x * y).alias("sxy"),
    )
    n = F.col("n")
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    return agged.select(
        n.alias("n"),
        (F.col("sx") / n).alias("mean_qty"),
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("stddev_qty"),
        (cov / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_qty_price"),
    )


def agg_quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (non-approximate) per-group quartiles of ``l_quantity``.

    Cross-engine exactness: both engines define the continuous quantile
    at rank ``(n-1)*q`` with linear interpolation. The probed quantiles
    are dyadic (1/4, 1/2, 3/4) and ``l_quantity`` is integer-valued
    (1..50), so every interpolation ``a + (b-a)*f`` is exact in IEEE
    double no matter how the engine associates the arithmetic — the
    results are bit-identical, not merely close.

    Scale shape: exact quantiles need the group's sorted values — at
    100 TB the per-group sort is the cost, so the scale path is
    ``approx_percentile`` (t-digest sketch, map-side mergeable; see
    ``approx_aggregates``); this operator is the exact twin used to
    validate the sketch and for medium-cardinality groups."""
    li = load(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("min_qty"),
            F.percentile(F.col("l_quantity"), F.lit(0.25)).alias("q25"),
            F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("median"),
            F.percentile(F.col("l_quantity"), F.lit(0.75)).alias("q75"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


def feature_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML feature prep: assign every lineitem its corpus-quartile
    bucket of ``l_quantity`` — compute the three exact dyadic quartile
    bounds once (integer-valued column, interpolation bit-identical
    across engines — same exactness argument as agg_quartiles_exact),
    broadcast the one-row bounds, and bucketize scan-side with three
    comparisons. The output is the per-bucket verification profile
    (counts and value envelopes; each bucket ≈ a quarter of rows).

    Scale shape: one pass for bounds (the exact form; at 100 TB swap
    approx_percentile into the same broadcast slot), then a pure
    scan-side projection + small agg — the quantile table never
    round-trips through the driver."""
    li = load(spark, "lineitem", sf_dir)
    bounds = li.agg(
        F.percentile(F.col("l_quantity"), F.lit(0.25)).alias("q25"),
        F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("q50"),
        F.percentile(F.col("l_quantity"), F.lit(0.75)).alias("q75"),
    )
    bucket = (
        F.lit(1)
        + (F.col("l_quantity") > F.col("q25")).cast("int")
        + (F.col("l_quantity") > F.col("q50")).cast("int")
        + (F.col("l_quantity") > F.col("q75")).cast("int")
    )
    return (
        li.select("l_quantity")
        .crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "l_quantity")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("v_min"),
            F.max("l_quantity").alias("v_max"),
        )
        .orderBy("bucket")
    )


def wf_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total per group (the ratio_to_report window pattern).

    The textbook form is ``sum(x) OVER ()`` — a window over an
    unpartitioned frame, which funnels every row through one reducer at
    scale. The scale-safe rewrite here aggregates per group first
    (map-side combine), then broadcasts the one-row global total back:
    same result, no single-reducer stage, and the oracle KEEPS the
    window formulation to prove equivalence. Both engines divide the
    same two exactly-summed decimals as doubles, so the share is one
    IEEE division — bit-identical."""
    ev = load(spark, "events", sf_dir)
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("tv"),
    )
    total = per.agg(F.sum("tv").alias("gt"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n_events",
            F.col("tv").cast("double").alias("type_value"),
            (F.col("tv").cast("double") / F.col("gt").cast("double") * 100.0).alias(
                "share_pct"
            ),
        )
        .orderBy("event_type")
    )


def wf_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value functions (first_value / last_value / nth_value)
    per user over event time, with the full-partition frame stated
    explicitly — last_value over the DEFAULT frame (unbounded preceding
    .. current row) is the classic silent-wrong-answer; pinning ROWS
    BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING makes the
    semantics the ones people actually mean. One shuffle on user_id;
    all four values ride the same window."""
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.first("value").over(full).alias("first_value"),
            F.last("value").over(full).alias("last_value"),
            F.nth_value("value", 2).over(full).alias("second_value"),
            F.row_number().over(w).alias("seq"),
        )
    )


def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a deterministic
    tiebreak — the missing member of the aggregate-function surface.
    Built-in ``mode()`` breaks ties arbitrarily (engine- and
    partitioning-dependent), so this is the two-level form: count per
    (group, value), then argmax with (count DESC, value ASC) — the
    same result on any engine and any executor count. Both levels are
    hash aggregations; the argmax is a max_by on an exact struct."""
    ev = load(spark, "events", sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # max_by over (n, reversed-type) would need a string trick for the
    # ASC tiebreak; a row_number window on the tiny per-user group is
    # clearer and WindowGroupLimit-prunable.
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("modal_event_type"), F.col("n").alias("n_events"))
    )


def f_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over the embedding column: size, element
    access, min/max, slice, sort, threshold-filter count, argmax.

    The slice/sort results surface as SCALAR element columns (not raw
    arrays): array-typed outputs are unsortable in a pandas-based
    result canonicalizer, so the arrays stay inside the plan and each
    probed element exits as its own float column."""
    emb = load(spark, "embeddings", sf_dir)
    head4 = F.slice("embedding", 1, 4)
    shead3 = F.slice(F.array_sort("embedding"), 1, 3)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        # try_element_at: a short/empty array yields NULL like the
        # oracle's embedding[1], instead of an ANSI index error.
        F.try_element_at("embedding", F.lit(1)).alias("first_val"),
        F.array_max("embedding").alias("max_val"),
        F.array_min("embedding").alias("min_val"),
        *[
            F.try_element_at(head4, F.lit(i)).alias(f"head4_{i}")
            for i in (1, 2, 3, 4)
        ],
        *[
            F.try_element_at(shead3, F.lit(i)).alias(f"shead3_{i}")
            for i in (1, 2, 3)
        ],
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.array_position(
            "embedding", F.array_max("embedding")
        ).alias("argmax_1based"),
    )


def agg_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregates per group: sorted collect_list/collect_set
    (sorted so the arrays are deterministic under any partitioning),
    plus min_by/max_by row selection."""
    orders = load(spark, "orders", sf_dir)
    top = orders.filter(F.col("o_totalprice") > 450_000)
    # min_by/max_by need a total order: equal prices exist, so the key
    # is a fixed-width sortable string of (price, orderkey) — the
    # unique tiebreak keeps arg-min/arg-max engine-deterministic.
    # Key on the exact decimal's string form, not printf on the raw
    # double: Java and C printf diverge at halfway rounding points.
    # decimal(18,2) -> string keeps the full scale ("450000.00") in
    # both engines; lpad makes it fixed-width sortable (values are
    # positive here, so zero-padding preserves numeric order).
    ordkey = F.concat(
        F.lpad(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 21, "0"),
        F.lit("|"),
        F.lpad(F.col("o_orderkey").cast("string"), 20, "0"),
    )
    return (
        top.groupBy("o_orderpriority")
        .agg(
            # array_join-flattened: the sorted collection is built as an
            # array inside the plan, but exits as a '|'-joined string so
            # a pandas-based canonicalizer can sort/hash the frame.
            F.array_join(
                F.array_sort(F.collect_list("o_orderkey")).cast(
                    "array<string>"
                ),
                "|",
            ).alias("order_keys"),
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), "|"
            ).alias("statuses"),
            F.min_by("o_orderkey", ordkey).alias("cheapest_orderkey"),
            F.max_by("o_orderkey", ordkey).alias("priciest_orderkey"),
        )
        .orderBy("o_orderpriority")
    )


def sql_api_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q0 snapshot expressed through the SQL entry point
    (SURVEY.md §3: ``spark.sql`` produces the same Catalyst plan as the
    DataFrame API) — demonstrating the text interface over a per-query
    scoped view name."""
    ev = load(spark, "events", sf_dir)
    view = "events_sql_api_snapshot"
    ev.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT event_id, ts, user_id, event_type, value
        FROM {view}
        WHERE event_type = 'purchase'
        ORDER BY ts DESC, event_id DESC
        LIMIT 200
        """
    )


def f_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface over document text: extract, replace, count,
    like-match (simple char-class patterns so Java and RE2 agree)."""
    docs = load(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.regexp_extract(F.col("text"), "([a-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace(F.col("text"), "[aeiou]", "")).alias("len_no_vowels"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0)).alias("n_word_runs"),
        F.col("text").rlike("join").alias("mentions_join"),
    )


def reconcile_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint for cross-engine / pre-post
    migration reconciliation: every row hashes to a 60-bit integer
    (md5 over a canonical integer/string rendering of its columns —
    doubles pass through the exact decimal(12,4)/decimal(6,4) casts so
    both engines print identical digits), and the per-flag SUM of row
    hashes plus row count is the table's signature. Sums commute, so
    the signature is independent of row order, partitioning, and
    cluster size — two tables match iff (modulo astronomically
    unlikely md5 collisions) they hold identical multisets of rows.
    Scan + one tiny hash-agg; this is how you check a 100 TB copy
    without sorting or shipping it. The rebalanced load fans the
    per-row hash kernel out past a degenerate single-rowgroup input
    file (no-op on properly laid-out data)."""
    li = load_rebalanced(spark, "lineitem", sf_dir)

    def nn(c):
        # concat_ws silently SKIPS nulls, which would render
        # (x, NULL, y) and (x, y, NULL) identically; every field is
        # therefore coalesced to an explicit sentinel so null position
        # is part of the fingerprint.
        return F.coalesce(c.cast("string"), F.lit("<N>"))

    fields = [
        F.col("l_orderkey"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
        F.col("l_linenumber"),
        (F.col("l_quantity").cast("decimal(12,4)") * 10000).cast("bigint"),
        (F.col("l_extendedprice").cast("decimal(12,4)") * 10000).cast("bigint"),
        (F.col("l_discount").cast("decimal(6,4)") * 10000).cast("bigint"),
        (F.col("l_tax").cast("decimal(6,4)") * 10000).cast("bigint"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.expr("unix_micros(l_shipdate)"),
    ]
    # Out-of-band null mask: a literal '<N>' string value and a true
    # NULL differ in the mask bit, keeping the fingerprint injective
    # (a production form would hash fields individually; the mask is
    # the cheap columnar equivalent).
    null_mask = F.concat(
        *[F.when(f.isNull(), F.lit("1")).otherwise(F.lit("0")) for f in fields]
    )
    canon = F.concat_ws("|", null_mask, *[nn(f) for f in fields])
    rowhash = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(rowhash).cast("string").alias("hash_sum"),
        )
        .orderBy("l_returnflag")
    )


_MED_BINS = 256


def _group_median(df: DataFrame, key: str, val: str) -> DataFrame:
    """Exact per-group nearest-rank median (percentile_disc(0.5)
    semantics: the ceil(n/2)-th order statistic) via histogram-assisted
    selection: per-group equi-width bin counts locate the covering bin
    and the within-bin rank, then one row_number window over that
    bin's rows (n/256 of the group) selects the exact value. Replaces
    the sort-based percentile_disc aggregate, which funnels every
    group's full value set through one reducer — the same rewrite
    sketch_quantile_histogram documents, here in per-group form.
    Returns (key, n, med).

    Kept as the REUSABLE, fully-lazy reference form of the pattern
    (pinned against percentile_disc in
    tests/test_r4d_extensions.py::test_group_median_histogram_selection);
    stats_robust_mad (r5) inlines a fused driver-coordinated variant
    because it needs the median, the MAD, and the outlier boundary
    from shared histograms — a new single-statistic consumer should
    call this helper, not copy that fusion."""
    bounds = df.groupBy(key).agg(
        F.min(val).alias("mn"),
        F.max(val).alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    withb = df.join(F.broadcast(bounds), key).withColumn(
        "bucket", F.expr(f"({val} - mn) * {_MED_BINS} div (mx - mn + 1)")
    )
    bins = withb.groupBy(key, "n", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.withColumn("cum", F.sum("c").over(w))
    k = "(n + 1) div 2"
    sel = cum.groupBy(key, "n").agg(
        F.min(F.when(F.expr(f"cum >= {k}"), F.col("bucket"))).alias(
            "bstar"
        ),
        F.expr(
            f"{k} - min(CASE WHEN cum >= {k} THEN cum - c END)"
        ).alias("rk"),
    )
    wsel = Window.partitionBy(key).orderBy(val)
    return (
        withb.select(key, val, "bucket")
        .join(F.broadcast(sel), key)
        .filter(F.col("bucket") == F.col("bstar"))
        .withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == F.col("rk"))
        .select(key, "n", F.col(val).alias("med"))
    )


def stats_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group location/scale: median and MAD (median absolute
    deviation) of extended price in exact integer cents, plus the count
    of rows beyond 2 MADs — the outlier-capping statistics a feature
    pipeline computes before winsorizing, immune to the heavy tails
    that wreck mean/stddev (agg_stats_moments is the classical twin).

    Exactness: prices quantize to cents through decimal(18,2) (both
    engines round identically), medians are ORDER-STATISTIC
    (percentile_disc nearest-rank — actual data values, no
    interpolated floats), and the outlier test |x-med| > 2*MAD is pure
    integer comparison. Every output column is int/bigint.

    Scale shape (FUSED, r5 — the r4 form ran ~8 scheduler-bound
    sequential jobs over the fact table; the verdict asked for <=4):
    the fact table is scanned exactly ONCE, into a value-level
    histogram ``(group, cents) -> count``. The cents DOMAIN is bounded
    (TPC-H prices => ~11M distinct values, a constant independent of
    row count), so the histogram is a small distributed frame, and —
    key fusion — the DEVIATION histogram |cents - med| is a pure
    function of it, so the MAD never re-reads the fact. Three tiny
    follow-up jobs run against the checkpointed histogram:
      1. coarse fixed-width bin counts (bucket = value div 2^16) ->
         covering bucket + within-bucket rank per group (driver walk
         over <=170 bins);
      2. value slice of the ONE covering bucket -> exact median;
      3. coarse bins of the derived deviation histogram -> MAD
         covering bucket; plus the value slice of that bucket AND the
         two buckets that can contain 2*MAD (bucket(2m) for m in
         bucket b is 2b or 2b+1) -> exact MAD by rank walk, exact
         outlier count = full bins above 2b+1 + value-exact boundary
         counts.
    Driver state is bounded by BIN COUNT + bucket WIDTH (<=2^16
    distinct integers per slice), never by n — the same
    O(model)-collect contract as the k-means codebooks. At 100 TB the
    sketch path (approx_percentile) takes over and this exact form is
    its validation twin, same contract as agg_quartiles_exact.

    Contract note: unlike the rest of the registry this query is EAGER
    — the rank walks are driver logic, so the histogram jobs run at
    call time and the return value is a driver-materialized frame
    (same registry-level exemption as the k-means model fits, whose
    codebooks also collect at call time). Plan-only consumers that
    need a lazy equivalent should use ``_group_median`` above. An
    empty fact table returns an empty frame with the same schema."""
    width = 1 << 16  # bucket width in cents; <=170 buckets at TPC-H prices
    hist = (
        load_rebalanced(spark, "lineitem", sf_dir)
        .groupBy(
            "l_returnflag",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .checkpoint(eager=True)
    )

    def rank_walk(h: dict, k: int):
        """(covering key, rank within it) for the k-th order statistic
        of a {key -> count} histogram."""
        cum = 0
        for key in sorted(h):
            if cum + h[key] >= k:
                return key, k - cum
            cum += h[key]
        raise ValueError("rank beyond histogram")

    def _q(g: str) -> str:
        """SQL string literal for a group value. Group values here are
        l_returnflag ('A'/'N'/'R'), but escape quotes so the builder
        stays safe if reused on arbitrary string groups."""
        return "'" + str(g).replace("'", "''") + "'"

    def case_expr(mapping: dict) -> str:
        arms = " ".join(
            f"WHEN {_q(g)} THEN {v}L" for g, v in mapping.items()
        )
        return f"CASE l_returnflag {arms} END"

    def coarse(df: DataFrame, val: str) -> dict[str, dict[int, int]]:
        out: dict[str, dict[int, int]] = {}
        for r in (
            df.groupBy(
                "l_returnflag", F.expr(f"{val} div {width}").alias("b")
            )
            .agg(F.sum("c").alias("c"))
            .collect()
        ):
            out.setdefault(r["l_returnflag"], {})[r["b"]] = r["c"]
        return out

    def slice_values(
        df: DataFrame, val: str, want: dict[str, set]
    ) -> dict[str, dict[int, int]]:
        cond = " OR ".join(
            f"(l_returnflag = {_q(g)} AND ({val}) div {width} IN "
            f"({', '.join(str(b) for b in sorted(bs))}))"
            for g, bs in want.items()
        )
        out: dict[str, dict[int, int]] = {}
        for r in (
            df.filter(F.expr(cond))
            .groupBy("l_returnflag", F.expr(val).alias("v"))
            .agg(F.sum("c").alias("c"))
            .collect()
        ):
            out.setdefault(r["l_returnflag"], {})[r["v"]] = r["c"]
        return out

    # Job 1 (the checkpoint above was the only fact scan): coarse cents bins.
    bins1 = coarse(hist, "cents")
    out_schema = (
        "l_returnflag string, n bigint, med_cents bigint, "
        "mad_cents bigint, n_outliers bigint, outlier_ppm bigint"
    )
    if not bins1:  # empty fact table: no groups, empty result
        return spark.createDataFrame([], out_schema)
    n_by_g = {g: sum(h.values()) for g, h in bins1.items()}
    k_by_g = {g: (n + 1) // 2 for g, n in n_by_g.items()}
    bstar = {g: rank_walk(bins1[g], k_by_g[g]) for g in bins1}

    # Job 2: value slice of each covering bucket -> exact median.
    vh = slice_values(hist, "cents", {g: {b} for g, (b, _) in bstar.items()})
    med = {g: rank_walk(vh[g], rk)[0] for g, (_, rk) in bstar.items()}

    # Deviation histogram — derived from the CENTS histogram, not the
    # fact table (|cents - med| inlined as a codegen CASE literal).
    adev = f"abs(cents - ({case_expr(med)}))"
    # Job 3: coarse deviation bins -> MAD covering bucket.
    bins2 = coarse(hist, f"({adev})")
    bstar2 = {g: rank_walk(bins2[g], k_by_g[g]) for g in bins2}

    # Job 4: value slice of the MAD bucket + the 2*MAD boundary
    # buckets {2b, 2b+1} — one pass serves the exact MAD selection and
    # the value-exact outlier boundary.
    vh2 = slice_values(
        hist,
        f"({adev})",
        {g: {b, 2 * b, 2 * b + 1} for g, (b, _) in bstar2.items()},
    )
    rows = []
    for g in sorted(n_by_g):
        b_mad, rk2 = bstar2[g]
        in_bucket = {
            d: c for d, c in vh2[g].items() if d // width == b_mad
        }
        mad = rank_walk(in_bucket, rk2)[0]
        thr = 2 * mad
        # Exact outlier count: whole bins strictly above 2b_mad+1 (all
        # their values exceed 2*mad, since 2*mad < (2b_mad+2)*width),
        # plus value-exact counts in the boundary buckets
        # {2b_mad, 2b_mad+1} — the only buckets that can contain 2*mad.
        tail_full = sum(
            c for b, c in bins2[g].items() if b > 2 * b_mad + 1
        )
        boundary = sum(
            c
            for d, c in vh2[g].items()
            if d // width in (2 * b_mad, 2 * b_mad + 1) and d > thr
        )
        n = n_by_g[g]
        n_out = tail_full + boundary
        rows.append(
            (g, n, med[g], mad, n_out, n_out * 1_000_000 // n)
        )
    return spark.createDataFrame(rows, out_schema).orderBy("l_returnflag")


def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the parts for which no other part
    is both cheaper-or-equal AND larger-or-equal (strictly better on at
    least one axis) — the classic "best price/size trade-off" query
    relational engines lack as a primitive.

    Spark-first formulation: NOT the quadratic NOT-EXISTS self-join.
    Sort once by price (cents); a part is dominated iff the max size at
    strictly-cheaper prices >= its size (RANGE frame ending 1 cent
    before the current price) OR the max size at EQUAL price > its size
    (tie frame). Both frames ride ONE window sort — O(n log n), and the
    range-partitioned global sort distributes (the same two-phase rank
    machinery shuffle_global_order uses would drop in for the
    single-reducer window at extreme scale; at part-table cardinality
    the plain window is the right plan).

    wf_range_frame pinned cross-engine RANGE-frame semantics; outputs
    are the frontier rows ordered by price, all int/string columns."""
    part = load(spark, "part", sf_dir).select(
        "p_partkey",
        "p_name",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
        "p_size",
    )
    w_cheaper = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_ties = Window.partitionBy("price_cents")
    flagged = part.select(
        "p_partkey",
        "p_name",
        "price_cents",
        "p_size",
        F.max("p_size").over(w_cheaper).alias("best_cheaper"),
        F.max("p_size").over(w_ties).alias("best_tie"),
    )
    return (
        flagged.filter(
            (
                F.col("best_cheaper").isNull()
                | (F.col("best_cheaper") < F.col("p_size"))
            )
            & (F.col("best_tie") <= F.col("p_size"))
        )
        .select("p_partkey", "p_name", "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    )


BOOT_B = 64  # bootstrap replicas
# One md5 yields 32 hex chars = four INDEPENDENT 24-bit draws (6 hex
# each at offsets 1/7/13/19) — the hash work per order is B/4 md5s,
# not B (r9: the md5 was ~the whole query cost at sf10). Tag bumped
# v1 -> v2 because the replica draws change with the packing.
BOOT_DRAWS = 4  # 24-bit draws carved from each md5
BOOT_GROUPS = BOOT_B // BOOT_DRAWS
BOOT_TAG = "boot_v2"
# Poisson(1) pmf quantized onto the 24-bit md5-substring space (16^6):
# cumulative thresholds for weights 0..5, weight 6 above the last —
# exact integers so both engines draw identical weights.
BOOT_THRESHOLDS = [6171992, 12343985, 15429982, 16458647, 16715813, 16767247]


def metrics_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap confidence interval for mean order value
    via the POISSON BOOTSTRAP — the only bootstrap that distributes:
    classical resampling needs global coordinated draws, but Poisson(1)
    per-row replica weights are independent, so each row emits its own
    weights and the replica means assemble in one map-side-combined
    aggregation. Weights are drawn deterministically (salted md5 prefix
    against fixed integer thresholds of the Poisson(1) pmf), so every
    engine/run/partitioning produces the SAME replicas — a reproducible
    CI, not a flaky one.

    Output row: exact full-data mean (floor cents), the 2.5%/97.5%
    nearest-rank bounds over the BOOT_B replica means, and the replica
    min/max — the uncertainty readout a metrics pipeline attaches to
    every scorecard number.

    Scale shape: the row explosion is BOOT_B/4 PER ORDER, not BOOT_B
    (r9 A/B'd three forms at sf10: the per-replica explode cost 31 s
    — Generate row volume and per-draw conv() hex parses, NOT the
    md5; a zero-explode 128-accumulator global agg cost 53 s — the
    wide row leaves codegen's JIT-friendly zone). Each exploded row
    carries one md5 whose 32 hex chars yield its FOUR replicas'
    weights via fixed-width LOWERCASE-HEX STRING COMPARES against
    literal hex thresholds (lexicographic == numeric for fixed-width
    lowercase hex, so no integer parse ever runs); 8 narrow sums
    partial-aggregate into BOOT_B/4 hash-group rows map-side, and the
    replica unpivot + rank selection run over BOOT_B tiny rows. No
    data ever funnels through a sort; cost is B/4 x scan, the
    documented price of the bootstrap."""
    o = load_rebalanced(spark, "orders", sf_dir).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tx = [f"{v:06x}" for v in BOOT_THRESHOLDS]

    def w_expr(k: int):
        # weight of this row's k-th draw: the k-th 6-hex slice of the
        # row's md5, thresholded as a string compare (no conv()).
        sub = f"substring(h32, {k * 6 + 1}, 6)"
        return F.expr(
            f"CASE WHEN {sub} < '{tx[0]}' THEN 0"
            f" WHEN {sub} < '{tx[1]}' THEN 1"
            f" WHEN {sub} < '{tx[2]}' THEN 2"
            f" WHEN {sub} < '{tx[3]}' THEN 3"
            f" WHEN {sub} < '{tx[4]}' THEN 4"
            f" WHEN {sub} < '{tx[5]}' THEN 5 ELSE 6 END"
        )

    grouped = (
        o.select(
            "o_orderkey",
            "cents",
            F.explode(
                F.sequence(F.lit(0), F.lit(BOOT_GROUPS - 1))
            ).alias("g"),
        )
        .select(
            "cents",
            "g",
            F.md5(
                F.concat_ws(
                    "#", F.lit(BOOT_TAG), F.col("o_orderkey"), F.col("g")
                )
            ).alias("h32"),
        )
        .select(
            "cents", "g", *[w_expr(k).alias(f"w{k}") for k in range(BOOT_DRAWS)]
        )
        .groupBy("g")
        .agg(
            *[
                a
                for k in range(BOOT_DRAWS)
                for a in (
                    F.sum(f"w{k}").alias(f"sw{k}"),
                    F.sum(
                        F.col(f"w{k}").cast("bigint") * F.col("cents")
                    ).alias(f"sx{k}"),
                )
            ]
        )
    )
    stack_args = ", ".join(f"sx{k}, sw{k}" for k in range(BOOT_DRAWS))
    reps = grouped.select(
        F.expr(f"stack({BOOT_DRAWS}, {stack_args}) AS (sum_wx, sum_w)")
    ).select(F.expr("sum_wx div greatest(sum_w, 1)").alias("rep_mean"))
    wr = Window.orderBy("rep_mean")
    lo_rank = (25 * BOOT_B + 999) // 1000  # ceil(0.025 * B)
    hi_rank = (975 * BOOT_B + 999) // 1000  # ceil(0.975 * B)
    ci = (
        reps.withColumn("rn", F.row_number().over(wr))
        .agg(
            F.min(F.when(F.col("rn") == lo_rank, F.col("rep_mean"))).alias(
                "ci_lo_cents"
            ),
            F.min(F.when(F.col("rn") == hi_rank, F.col("rep_mean"))).alias(
                "ci_hi_cents"
            ),
            F.min("rep_mean").alias("rep_min_cents"),
            F.max("rep_mean").alias("rep_max_cents"),
            F.count(F.lit(1)).alias("n_replicas"),
        )
    )
    full = o.agg(
        F.expr("sum(cents) div count(*)").alias("mean_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return F.broadcast(full).crossJoin(ci).select(
        "n_orders",
        "mean_cents",
        "n_replicas",
        "ci_lo_cents",
        "ci_hi_cents",
        "rep_min_cents",
        "rep_max_cents",
    )


QUERIES = {
    "reconcile_checksum": reconcile_checksum,
    "feature_quantile_bucketize": feature_quantile_bucketize,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_stats_moments": agg_stats_moments,
    "agg_quartiles_exact": agg_quartiles_exact,
    "wf_share_of_total": wf_share_of_total,
    "wf_first_last_nth": wf_first_last_nth,
    "agg_mode_exact": agg_mode_exact,
    "wf_rank_family": wf_rank_family,
    "f_array_funcs": f_array_funcs,
    "f_regexp_funcs": f_regexp_funcs,
    "agg_collections": agg_collections,
    "sql_api_snapshot": sql_api_snapshot,
    "stats_robust_mad": stats_robust_mad,
    "skyline_pareto_parts": skyline_pareto_parts,
    "metrics_bootstrap_ci": metrics_bootstrap_ci,
}

ORACLES = {
    "metrics_bootstrap_ci": f"""
        WITH o AS (
            SELECT o_orderkey,
                   cast(cast(o_totalprice AS decimal(18,2)) * 100
                        AS bigint) AS cents
            FROM orders
        ),
        reps AS (
            SELECT o_orderkey, cents, unnest(range({BOOT_GROUPS})) AS g
            FROM o
        ),
        hashed AS (
            SELECT g, cents,
                   md5('{BOOT_TAG}' || '#' ||
                       cast(o_orderkey AS varchar) || '#' ||
                       cast(g AS varchar)) AS h32
            FROM reps
        ),
        draws AS (
            SELECT g * {BOOT_DRAWS} + k AS r, cents,
                   cast(concat('0x',
                        substr(h32, cast(k * 6 + 1 AS int), 6))
                        AS bigint) AS h
            FROM hashed,
                 (SELECT unnest(range({BOOT_DRAWS})) AS k)
        ),
        weighted AS (
            SELECT r, cents,
                   CASE WHEN h < {BOOT_THRESHOLDS[0]} THEN 0
                        WHEN h < {BOOT_THRESHOLDS[1]} THEN 1
                        WHEN h < {BOOT_THRESHOLDS[2]} THEN 2
                        WHEN h < {BOOT_THRESHOLDS[3]} THEN 3
                        WHEN h < {BOOT_THRESHOLDS[4]} THEN 4
                        WHEN h < {BOOT_THRESHOLDS[5]} THEN 5
                        ELSE 6 END AS w
            FROM draws
        ),
        rep_means AS (
            SELECT cast(sum(cast(w AS bigint) * cents)
                        // greatest(sum(w), 1) AS bigint) AS rep_mean
            FROM weighted GROUP BY r
        ),
        ranked AS (
            SELECT rep_mean,
                   row_number() OVER (ORDER BY rep_mean) AS rn
            FROM rep_means
        ),
        ci AS (
            SELECT min(CASE WHEN rn = {(25 * BOOT_B + 999) // 1000}
                            THEN rep_mean END) AS ci_lo_cents,
                   min(CASE WHEN rn = {(975 * BOOT_B + 999) // 1000}
                            THEN rep_mean END) AS ci_hi_cents,
                   min(rep_mean) AS rep_min_cents,
                   max(rep_mean) AS rep_max_cents,
                   cast(count(*) AS bigint) AS n_replicas
            FROM ranked
        ),
        full_stats AS (
            SELECT cast(sum(cents) // count(*) AS bigint) AS mean_cents,
                   cast(count(*) AS bigint) AS n_orders
            FROM o
        )
        SELECT n_orders, mean_cents, n_replicas, ci_lo_cents, ci_hi_cents,
               rep_min_cents, rep_max_cents
        FROM full_stats, ci
    """,
    "stats_robust_mad": """
        WITH li AS (
            SELECT l_returnflag,
                   cast(cast(l_extendedprice AS decimal(18,2)) * 100
                        AS bigint) AS cents
            FROM lineitem
        ),
        med AS (
            SELECT l_returnflag, cast(count(*) AS bigint) AS n,
                   quantile_disc(cents, 0.5) AS med_cents
            FROM li GROUP BY l_returnflag
        ),
        dev AS (
            SELECT li.l_returnflag, abs(cents - med_cents) AS adev
            FROM li JOIN med USING (l_returnflag)
        ),
        mad AS (
            SELECT l_returnflag, quantile_disc(adev, 0.5) AS mad_cents
            FROM dev GROUP BY l_returnflag
        ),
        outl AS (
            SELECT dev.l_returnflag,
                   cast(sum(CASE WHEN adev > 2 * mad_cents
                                 THEN 1 ELSE 0 END) AS bigint) AS n_outliers
            FROM dev JOIN mad USING (l_returnflag)
            GROUP BY dev.l_returnflag
        )
        SELECT l_returnflag, n, med_cents, mad_cents, n_outliers,
               cast(n_outliers * 1000000 // n AS bigint) AS outlier_ppm
        FROM med
        JOIN mad USING (l_returnflag)
        JOIN outl USING (l_returnflag)
        ORDER BY l_returnflag
    """,
    "skyline_pareto_parts": """
        WITH p AS (
            SELECT p_partkey, p_name,
                   cast(cast(p_retailprice AS decimal(18,2)) * 100
                        AS bigint) AS price_cents,
                   p_size
            FROM part
        ),
        f AS (
            SELECT p_partkey, p_name, price_cents, p_size,
                   max(p_size) OVER (
                       ORDER BY price_cents
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS best_cheaper,
                   max(p_size) OVER (PARTITION BY price_cents) AS best_tie
            FROM p
        )
        SELECT p_partkey, p_name, price_cents, p_size
        FROM f
        WHERE (best_cheaper IS NULL OR best_cheaper < p_size)
          AND best_tie <= p_size
        ORDER BY price_cents, p_partkey
    """,
    "feature_quantile_bucketize": """
        WITH b AS (
            SELECT quantile_cont(l_quantity, 0.25) AS q25,
                   quantile_cont(l_quantity, 0.5) AS q50,
                   quantile_cont(l_quantity, 0.75) AS q75
            FROM lineitem
        )
        SELECT 1 + cast(l_quantity > q25 AS int)
                 + cast(l_quantity > q50 AS int)
                 + cast(l_quantity > q75 AS int) AS bucket,
               count(*) AS n,
               min(l_quantity) AS v_min,
               max(l_quantity) AS v_max
        FROM lineitem CROSS JOIN b
        GROUP BY 1 ORDER BY 1
    """,
    "reconcile_checksum": """
        WITH h AS (
            SELECT l_returnflag,
                   cast(concat('0x', substr(md5(concat_ws('|',
                       concat(
                           CASE WHEN l_orderkey IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_partkey IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_suppkey IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_linenumber IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_quantity IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_extendedprice IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_discount IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_tax IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_returnflag IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_linestatus IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN l_shipdate IS NULL THEN '1' ELSE '0' END),
                       coalesce(cast(l_orderkey AS varchar), '<N>'),
                       coalesce(cast(l_partkey AS varchar), '<N>'),
                       coalesce(cast(l_suppkey AS varchar), '<N>'),
                       coalesce(cast(l_linenumber AS varchar), '<N>'),
                       coalesce(cast(cast(cast(l_quantity AS decimal(12,4)) * 10000 AS bigint) AS varchar), '<N>'),
                       coalesce(cast(cast(cast(l_extendedprice AS decimal(12,4)) * 10000 AS bigint) AS varchar), '<N>'),
                       coalesce(cast(cast(cast(l_discount AS decimal(6,4)) * 10000 AS bigint) AS varchar), '<N>'),
                       coalesce(cast(cast(cast(l_tax AS decimal(6,4)) * 10000 AS bigint) AS varchar), '<N>'),
                       coalesce(l_returnflag, '<N>'),
                       coalesce(l_linestatus, '<N>'),
                       coalesce(cast(epoch_us(l_shipdate) AS varchar), '<N>'))), 1, 15)) AS bigint) AS rh
            FROM lineitem
        )
        SELECT l_returnflag,
               count(*) AS n_rows,
               cast(sum(rh) AS varchar) AS hash_sum
        FROM h GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "agg_grouping_sets": f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               {oracle_dsum('l_quantity', 'sum_qty')}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "wf_first_last_nth": """
        SELECT user_id, event_id, ts, value,
               first_value(value) OVER wfull AS first_value,
               last_value(value) OVER wfull AS last_value,
               nth_value(value, 2) OVER wfull AS second_value,
               cast(row_number() OVER w AS int) AS seq
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               wfull AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)
    """,
    "agg_mode_exact": """
        SELECT user_id, event_type AS modal_event_type, n AS n_events
        FROM (
            SELECT user_id, event_type, count(*) AS n,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY count(*) DESC, event_type)
                       AS rk
            FROM events GROUP BY user_id, event_type
        )
        WHERE rk = 1
    """,
    # The oracle keeps the textbook unpartitioned-window form the
    # Spark side rewrites away: parity proves the broadcast plan is
    # indistinguishable from ratio_to_report.
    "wf_share_of_total": """
        WITH per AS (
            SELECT event_type,
                   count(*) AS n_events,
                   sum(cast(value AS decimal(38,6))) AS tv
            FROM events GROUP BY event_type
        )
        SELECT event_type, n_events,
               cast(tv AS double) AS type_value,
               cast(tv AS double) / cast(sum(tv) OVER () AS double) * 100.0
                   AS share_pct
        FROM per
        ORDER BY event_type
    """,
    "agg_quartiles_exact": """
        SELECT l_returnflag,
               count(*) AS n,
               min(l_quantity) AS min_qty,
               quantile_cont(l_quantity, 0.25) AS q25,
               quantile_cont(l_quantity, 0.5) AS median,
               quantile_cont(l_quantity, 0.75) AS q75,
               max(l_quantity) AS max_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "agg_stats_moments": """
        WITH sums AS (
            SELECT count(*) AS n,
                   cast(sum(cast(l_quantity AS decimal(38,6))) AS double) AS sx,
                   cast(sum(cast(l_extendedprice AS decimal(38,6))) AS double) AS sy,
                   cast(sum(cast(l_quantity * l_quantity AS decimal(38,6))) AS double) AS sxx,
                   cast(sum(cast(l_extendedprice * l_extendedprice AS decimal(38,6))) AS double) AS syy,
                   cast(sum(cast(l_quantity * l_extendedprice AS decimal(38,6))) AS double) AS sxy
            FROM lineitem
        )
        SELECT n,
               sx / n AS mean_qty,
               (sxx - sx * sx / n) / (n - 1) AS var_qty,
               sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
               ((sxy - sx * sy / n) / (n - 1))
                   / (sqrt((sxx - sx * sx / n) / (n - 1))
                      * sqrt((syy - sy * sy / n) / (n - 1))) AS corr_qty_price
        FROM sums
    """,
    "wf_rank_family": """
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               cast(rnk AS int) AS rnk,
               cast(drnk AS int) AS drnk,
               cast(quartile AS int) AS quartile,
               pct_rank, cume
        FROM (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   ntile(4) OVER w AS quartile,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey)
        )
        WHERE rnk <= 100
    """,
    "f_array_funcs": """
        SELECT vec_id,
               cast(len(embedding) AS int) AS dim,
               embedding[1] AS first_val,
               list_aggregate(embedding, 'max') AS max_val,
               list_aggregate(embedding, 'min') AS min_val,
               embedding[1] AS head4_1,
               embedding[2] AS head4_2,
               embedding[3] AS head4_3,
               embedding[4] AS head4_4,
               list_sort(embedding)[1] AS shead3_1,
               list_sort(embedding)[2] AS shead3_2,
               list_sort(embedding)[3] AS shead3_3,
               cast(len(list_filter(embedding, x -> x > 0)) AS int) AS n_positive,
               cast(list_position(embedding, list_aggregate(embedding, 'max'))
                    AS bigint) AS argmax_1based
        FROM embeddings
    """,
    "agg_collections": """
        SELECT o_orderpriority,
               array_to_string(list_sort(list(o_orderkey)), '|') AS order_keys,
               array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|')
                   AS statuses,
               min_by(o_orderkey, lpad(cast(cast(o_totalprice AS decimal(18,2)) AS varchar), 21, '0')
                   || '|' || lpad(cast(o_orderkey AS varchar), 20, '0'))
                   AS cheapest_orderkey,
               max_by(o_orderkey, lpad(cast(cast(o_totalprice AS decimal(18,2)) AS varchar), 21, '0')
                   || '|' || lpad(cast(o_orderkey AS varchar), 20, '0'))
                   AS priciest_orderkey
        FROM orders
        WHERE o_totalprice > 450000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "sql_api_snapshot": """
        SELECT event_id, ts, user_id, event_type, value
        FROM events
        WHERE event_type = 'purchase'
        ORDER BY ts DESC, event_id DESC
        LIMIT 200
    """,
    "f_regexp_funcs": """
        SELECT doc_id,
               regexp_extract(text, '([a-z]+)', 1) AS first_word,
               cast(length(regexp_replace(text, '[aeiou]', '', 'g')) AS int)
                   AS len_no_vowels,
               cast(len(regexp_extract_all(text, '[a-z]+')) AS int) AS n_word_runs,
               regexp_matches(text, 'join') AS mentions_join
        FROM documents
    """,
}
