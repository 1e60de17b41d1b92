"""Physical-layout operators: Z-order clustering and bucketed joins.

At 100 TB the dominant costs are scans and shuffles, and both are
layout problems:

- **Z-order clustering** (`layout_zorder_events`): multi-dimensional
  data skipping. A table range-partitioned on ONE column skips scans
  only for predicates on that column; interleaving the bits of two
  normalized dimensions into one Z-value and clustering on it keeps
  BOTH dimensions tight within every file, so min/max footer stats
  prune scans for predicates on either (the Morton-curve layout used
  by Delta OPTIMIZE ZORDER and Databricks liquid clustering). The
  query computes the Z-key with exact integer arithmetic (normalize
  each dim to 16 bits by integer scaling against broadcast global
  bounds, then interleave — 32 codegen'd shift/mask terms, no UDF)
  and reports the per-Z-bucket min/max envelope of both raw
  dimensions: the exact statistics a scan planner would prune with.
  The DuckDB oracle recomputes the identical bit arithmetic.

- **Bucketed co-located join** (`j8_bucketed_join`): the one-time
  layout investment that deletes the shuffle from every subsequent
  join on the bucket key. Both join sides are written once with
  ``bucketBy(N, key)`` + ``sortBy(key)``; Spark's bucketed scan then
  reports HashPartitioning(key, N), so a sort-merge join of the two
  tables needs NO Exchange on either side — at 100 TB that converts
  the fact-fact join from the cluster's largest shuffle into a
  partition-local merge (the plan audit in tests/test_plans.py pins
  the Exchange-free join subtree). The reference recomputes its
  dashboard joins from a snapshot each poll (dashboard.py:236-303);
  bucketing is how the same repeated-join workload stays cheap at
  scale. Bucket tables are written to a session-scoped warehouse
  under the system temp dir, keyed by sf_dir, and reused when
  present (the economics of bucketing: write once, join many).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions.exact import (
    ORACLE_REVENUE_SUM,
    revenue_dec,
)
from real_time_streaming_system_with_apache_kafka_spark.sources.layout import (
    write_bucketed_table,
)
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

_DEC = "decimal(38,6)"

# --------------------------------------------------------------------
# Z-order clustering

Z_BITS = 16  # bits per dimension after normalization
Z_BUCKET_SHIFT = 24  # keep the top 4 bits of each dim -> 256 buckets


def _z_interleave(ux: str, tx: str, *, spark_sql: bool) -> str:
    """Codegen the 32-term Morton interleave of two 16-bit ints.

    ``ux`` occupies even bit positions, ``tx`` odd. Emitted once per
    engine dialect (Spark: shiftleft/shiftright functions; DuckDB:
    <</>> operators) from the same Python loop so the formulas cannot
    drift. Pure integer codegen — whole-stage-compiled JVM-side, no
    UDF, exact in both engines.
    """
    terms = []
    for i in range(Z_BITS):
        for name, off in ((ux, 0), (tx, 1)):
            bit = 2 * i + off
            if spark_sql:
                terms.append(f"shiftleft(shiftright({name}, {i}) & 1, {bit})")
            else:
                terms.append(f"((({name} >> {i}) & 1) << {bit})")
    return " + ".join(terms)


def _norm16(v: str, lo: str, hi: str, *, spark_sql: bool) -> str:
    """Normalize ``v`` in [lo, hi] to 0..65535 with exact integer
    scaling. Spark ``div`` truncates toward zero, DuckDB ``//``
    floors — identical for the non-negative operands here."""
    op = "div" if spark_sql else "//"
    return f"(({v} - {lo}) * 65535 {op} greatest(1, {hi} - {lo}))"


def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Z-bucket skipping envelope of events over (user_id, minute).

    Both dimensions are normalized to 16 bits against broadcast global
    bounds, bit-interleaved into a Z-value, and the report shows — for
    each of the 256 leading-byte Z-buckets — the min/max of BOTH raw
    dimensions: the footer statistics a Z-clustered writer would give
    a scan planner. Tightness of these envelopes (asserted in
    tests/test_r3_extensions.py against a 1-D layout) is exactly the
    multi-dimension pruning win. One scan + one small aggregation; the
    bounds row is a broadcast scalar."""
    ev = load(spark, "events", sf_dir).select(
        "user_id", F.expr("unix_micros(ts) div 60000000").alias("minute_idx")
    )
    bounds = ev.agg(
        F.min("user_id").alias("u_lo"),
        F.max("user_id").alias("u_hi"),
        F.min("minute_idx").alias("t_lo"),
        F.max("minute_idx").alias("t_hi"),
    )
    ux = _norm16("user_id", "u_lo", "u_hi", spark_sql=True)
    tx = _norm16("minute_idx", "t_lo", "t_hi", spark_sql=True)
    z = _z_interleave(f"({ux})", f"({tx})", spark_sql=True)
    keyed = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "zbucket", F.expr(f"shiftright({z}, {Z_BUCKET_SHIFT})")
    )
    return (
        keyed.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.min("minute_idx").alias("t_min"),
            F.max("minute_idx").alias("t_max"),
        )
        .orderBy("zbucket")
    )


def _zorder_oracle_sql() -> str:
    ux = _norm16("user_id", "u_lo", "u_hi", spark_sql=False)
    tx = _norm16("minute_idx", "t_lo", "t_hi", spark_sql=False)
    z = _z_interleave(f"({ux})", f"({tx})", spark_sql=False)
    return f"""
        WITH ev AS (
            SELECT user_id, epoch_us(ts) // 60000000 AS minute_idx
            FROM events
        ), bounds AS (
            SELECT min(user_id) AS u_lo, max(user_id) AS u_hi,
                   min(minute_idx) AS t_lo, max(minute_idx) AS t_hi
            FROM ev
        )
        SELECT ({z}) >> {Z_BUCKET_SHIFT} AS zbucket,
               count(*) AS n,
               min(user_id) AS u_min, max(user_id) AS u_max,
               min(minute_idx) AS t_min, max(minute_idx) AS t_max
        FROM ev CROSS JOIN bounds
        GROUP BY 1 ORDER BY 1
    """


# --------------------------------------------------------------------
# Bucketed co-located join

N_BUCKETS = 16
_TABLE_VERSION = "v1"  # bump to invalidate previously-written buckets
_WAREHOUSES: dict[str, tuple[str, str]] = {}  # sf_dir -> (db, location)


def bucket_db(spark: SparkSession, sf_dir: str) -> str:
    """Process-private bucket warehouse, one per sf_dir (scale factors
    never share tables). The directory comes from ``tempfile.mkdtemp``
    — unpredictable name, 0700 perms — so on a multi-user host nobody
    can pre-create (squat) the path, and the atexit cleanup can only
    ever remove a directory THIS process created; the path lives in
    module state, never re-derived (a pid-derived path was squattable
    and pid reuse could aim the cleanup at someone else's directory).
    Cross-process reuse was never real anyway — the in-memory catalog
    forgets tables across processes; reuse is within-session: write
    once, join many times. Works on the default in-memory catalog —
    no Hive metastore needed. On a cluster the warehouse would be a
    durable catalog path and the tables truly write-once."""
    if sf_dir in _WAREHOUSES:
        return _WAREHOUSES[sf_dir][0]
    loc = tempfile.mkdtemp(prefix=f"rtss_buckets_{_TABLE_VERSION}_")
    # Catalog name needs no unpredictability (catalog is in-memory and
    # process-private); only the filesystem path does.
    db = f"rtss_buckets_{_TABLE_VERSION}_{os.getpid()}_{len(_WAREHOUSES)}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    _WAREHOUSES[sf_dir] = (db, loc)
    # Process-private dirs would otherwise accumulate in tmpdir
    # across runs (multi-GB at soak scale); remove ours on exit.
    import atexit
    import shutil

    atexit.register(shutil.rmtree, loc, ignore_errors=True)
    return db


def _bucket_loc(sf_dir: str) -> str:
    return _WAREHOUSES[sf_dir][1]


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem/orders bucketed by order key if absent; return
    the two table identifiers. The write is the one-time layout cost
    bucketing amortizes over every later join."""
    db = bucket_db(spark, sf_dir)
    li_t, od_t = f"{db}.lineitem_b", f"{db}.orders_b"

    def _clear_stale(table: str) -> None:
        # The warehouse dir is mkdtemp-private to this process, so the
        # only way the location exists without a catalog entry is a
        # crashed earlier write attempt in THIS session; clearing it is
        # race-free and the rewrite is deterministic.
        import shutil

        loc = os.path.join(_bucket_loc(sf_dir), table.split(".")[-1])
        shutil.rmtree(loc, ignore_errors=True)

    if not spark.catalog.tableExists(li_t):
        _clear_stale(li_t)
        write_bucketed_table(
            load(spark, "lineitem", sf_dir).select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            li_t,
            "l_orderkey",
            n_buckets=N_BUCKETS,
        )
    if not spark.catalog.tableExists(od_t):
        _clear_stale(od_t)
        write_bucketed_table(
            load(spark, "orders", sf_dir).select(
                "o_orderkey", "o_orderpriority"
            ),
            od_t,
            "o_orderkey",
            n_buckets=N_BUCKETS,
        )
    return li_t, od_t


def bucketed_join_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two bucketed sides, for reuse by the plan audit."""
    li_t, od_t = _ensure_bucketed(spark, sf_dir)
    return spark.table(li_t), spark.table(od_t)


def j8_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority over the bucketed lineitem⋈orders.

    Both sides are bucketed N_BUCKETS (16) ways on the order key, so the
    merge join runs Exchange-free (both scans already report
    HashPartitioning on the key — the plan audit pins a join subtree
    with no Exchange). The ``merge`` hint keeps the demo honest: at
    100 TB neither fact side broadcasts. The oracle is the plain join
    over the unbucketed parquet — layout must be invisible in the
    result."""
    li, od = bucketed_join_frames(spark, sf_dir)
    joined = li.hint("merge").join(
        od, li.l_orderkey == od.o_orderkey
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue_dec().cast(_DEC)).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# Compaction planner model: streaming ingest lands one micro-batch
# file per COMPACT_FILE_ROWS events inside each daily partition; the
# planner coalesces them into ~COMPACT_TARGET_BYTES outputs.
COMPACT_FILE_ROWS = 50
COMPACT_TARGET_BYTES = 4_000
COMPACT_ROW_OVERHEAD = 16  # fixed per-row bytes beyond the varlen cols


def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE bin-packing step of
    a lakehouse table): streaming ingest leaves each daily partition
    littered with micro-batch files; this plans which files coalesce
    into which target output so every rewritten file lands near
    {COMPACT_TARGET_BYTES} bytes. Emits one row per input file with
    its assigned output bin — the work list a rewrite job executes.

    Binning is the deterministic single-pass rule every production
    compactor uses (Delta OPTIMIZE, Iceberg binpack): within a
    partition, take files in layout order (file_id = arrival order, so
    time locality survives compaction) and cut a new bin whenever the
    running byte total crosses the target — bin = exclusive-prefix-sum
    div target. True minimal bin packing is NP-hard and order-
    destroying; the greedy cut is one window pass and keeps ordering.

    Exactness: file sizes are exact integer byte models (varlen column
    lengths + {COMPACT_ROW_OVERHEAD}/row); the prefix sum and the bin
    division are exact integer ops.

    Scale shape: the input to the planner is FILE METADATA, not data —
    one row per micro-batch file (a 100 TB table at 128 MB files is
    under a million metadata rows), aggregated from the event scan by
    one hash shuffle on (partition_day, file_id). The planning window
    partitions by day, so the prefix sum never needs a global sort and
    parallelizes across partitions — the same per-partition
    independence the real compactor has (it rewrites partitions
    concurrently)."""
    ev = load(spark, "events", sf_dir)
    row_bytes = (
        F.length("props") + F.length("event_type") + COMPACT_ROW_OVERHEAD
    ).cast("bigint")
    files = ev.groupBy(
        F.to_date("ts").alias("partition_day"),
        F.expr(f"event_id div {COMPACT_FILE_ROWS}").alias("file_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_bytes).alias("bytes"),
    )
    w = (
        Window.partitionBy("partition_day")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumx = F.coalesce(F.sum("bytes").over(w), F.lit(0))
    return (
        files.withColumn("cum_bytes_before", cumx)
        .withColumn(
            "target_bin",
            F.expr(f"cum_bytes_before div {COMPACT_TARGET_BYTES}"),
        )
        .select(
            "partition_day",
            "file_id",
            "n_rows",
            "bytes",
            "cum_bytes_before",
            "target_bin",
        )
        .orderBy("partition_day", "file_id")
    )


# ---------------------------------------------------------------------------
# Zone-map (min/max footer stats) data-skipping effectiveness audit

ZONE_FILE_ROWS = 500  # ingest-order micro-batch file model
# Fixed probe predicates, half-open [lo, hi): two time windows (the
# clustered column — ingest order IS time order, so footer ranges are
# disjoint and skipping bites) and two price bands (unclustered —
# every file spans nearly the full price range, so zone maps skip
# ~nothing; that contrast is the point, and layout_zorder_events is
# the fix this audit motivates). Times are epoch micros, prices exact
# integer cents.
_US = 86_400_000_000  # one day of microseconds
_T0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
ZONE_PROBES: list[tuple[int, str, int, int]] = [
    (1, "ts_us", _T0 + 4 * _US, _T0 + 6 * _US),  # Jan 05-07
    (2, "ts_us", _T0 + 19 * _US, _T0 + 27 * _US),  # Jan 20-28
    (3, "px", 10_000, 12_000),  # $100.00-$119.99
    (4, "px", 45_000, 1 << 61),  # top price tail
]


def layout_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured data-skipping effectiveness of per-file min/max zone
    maps (parquet footer stats / Delta-Iceberg file stats): model
    ingest-order micro-batch files ({ZONE_FILE_ROWS} rows each),
    collect each file's min/max per column, and for every probe
    predicate report how many files the zone maps PROVE empty
    (skipped), how many rows the scanned remainder reads, how many
    actually match, and the wasted-scan fraction in ppm. The
    "measure, don't guess" audit for the claim behind
    ``layout_zorder_events`` and every time-partitioned table: on the
    clustered column skipping is near-total, on an unclustered column
    it is near-zero — numbers, not intuition, before anyone relies on
    pruning at 100 TB.

    Plan shape: ONE scan builds the per-file stats table (min/max per
    column + per-probe exact match counts folded into the same hash
    aggregate, metadata-sized output); the per-probe rollups are
    one aggregate over that metadata — a 100 TB table is ~a million
    metadata rows. Zone-map soundness (a skipped file
    contains no matching row) is pinned in tests by construction:
    match counts sum identically over scanned files only."""
    ev = load(spark, "events", sf_dir).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("px"),
    )
    aggs = [
        F.min("ts_us").alias("mn_ts_us"),
        F.max("ts_us").alias("mx_ts_us"),
        F.min("px").alias("mn_px"),
        F.max("px").alias("mx_px"),
        F.count(F.lit(1)).alias("n_rows"),
    ] + [
        F.count_if(
            (F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(hi))
        ).alias(f"match_{pid}")
        for pid, col, lo, hi in ZONE_PROBES
    ]
    files = ev.groupBy(
        F.expr(f"event_id div {ZONE_FILE_ROWS}").alias("file_id")
    ).agg(*aggs)
    # One aggregate over the file stats computes every probe's rollup;
    # the probes then unfold into rows, so the stats table has a
    # single consumer.
    rollups = []
    for pid, col, lo, hi in ZONE_PROBES:
        skipped = (F.col(f"mx_{col}") < F.lit(lo)) | (
            F.col(f"mn_{col}") >= F.lit(hi)
        )
        rollups.append(
            F.struct(
                F.lit(pid).alias("probe_id"),
                F.lit(f"{col} in [{lo},{hi})").alias("predicate"),
                F.count(F.lit(1)).alias("n_files"),
                F.count_if(skipped).alias("n_skipped_files"),
                F.count_if(~skipped).alias("n_scanned_files"),
                F.sum(F.when(~skipped, F.col("n_rows")).otherwise(0))
                .cast("bigint")
                .alias("rows_scanned"),
                F.sum(f"match_{pid}").cast("bigint").alias("rows_matched"),
            )
        )
    return (
        files.agg(F.array(*rollups).alias("probes"))
        .select(F.inline("probes"))
        .withColumn(
            "scan_waste_ppm",
            F.expr(
                "cast(1000000 AS bigint) * (rows_scanned - rows_matched)"
                " div greatest(rows_scanned, 1)"
            ),
        )
        .orderBy("probe_id")
    )


def _zonemap_oracle_sql() -> str:
    match_cols = ",\n                   ".join(
        f"cast(count(*) FILTER (WHERE {col} >= {lo} AND {col} < {hi})"
        f" AS bigint) AS match_{pid}"
        for pid, col, lo, hi in ZONE_PROBES
    )
    probes = "\n        UNION ALL\n".join(
        f"""        SELECT {pid} AS probe_id,
               '{col} in [{lo},{hi})' AS predicate,
               cast(count(*) AS bigint) AS n_files,
               cast(count(*) FILTER (WHERE mx_{col} < {lo}
                                        OR mn_{col} >= {hi}) AS bigint)
                   AS n_skipped_files,
               cast(count(*) FILTER (WHERE NOT (mx_{col} < {lo}
                                             OR mn_{col} >= {hi}))
                    AS bigint) AS n_scanned_files,
               cast(coalesce(sum(n_rows) FILTER (WHERE NOT (mx_{col} < {lo}
                                             OR mn_{col} >= {hi})), 0)
                    AS bigint) AS rows_scanned,
               cast(sum(match_{pid}) AS bigint) AS rows_matched,
               cast(1000000 * (coalesce(sum(n_rows) FILTER (
                        WHERE NOT (mx_{col} < {lo} OR mn_{col} >= {hi})), 0)
                        - sum(match_{pid}))
                    // greatest(coalesce(sum(n_rows) FILTER (
                        WHERE NOT (mx_{col} < {lo} OR mn_{col} >= {hi})), 0),
                        1) AS bigint) AS scan_waste_ppm
        FROM files"""
        for pid, col, lo, hi in ZONE_PROBES
    )
    return f"""
        WITH files AS (
            SELECT event_id // {ZONE_FILE_ROWS} AS file_id,
                   min(ts_us) AS mn_ts_us,
                   max(ts_us) AS mx_ts_us,
                   min(px) AS mn_px,
                   max(px) AS mx_px,
                   cast(count(*) AS bigint) AS n_rows,
                   {match_cols}
            FROM (SELECT event_id,
                         cast(cast(value AS decimal(18,2)) * 100 AS bigint)
                             AS px,
                         epoch_us(ts) AS ts_us
                  FROM events)
            GROUP BY 1
        )
{probes}
        ORDER BY probe_id
    """


QUERIES = {
    "layout_zorder_events": layout_zorder_events,
    "j8_bucketed_join": j8_bucketed_join,
    "layout_compaction_plan": layout_compaction_plan,
    "layout_zonemap_skipping": layout_zonemap_skipping,
}

ORACLES = {
    "layout_zorder_events": _zorder_oracle_sql(),
    "layout_zonemap_skipping": _zonemap_oracle_sql(),
    # The oracle joins the UNBUCKETED tables: the layout change must
    # be invisible in the result.
    "j8_bucketed_join": f"""
        SELECT o_orderpriority,
               count(*) AS n_lines,
               {ORACLE_REVENUE_SUM} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "layout_compaction_plan": f"""
        WITH files AS (
            SELECT cast(date_trunc('day', ts) AS date) AS partition_day,
                   event_id // {COMPACT_FILE_ROWS} AS file_id,
                   cast(count(*) AS bigint) AS n_rows,
                   cast(sum(length(props) + length(event_type)
                            + {COMPACT_ROW_OVERHEAD}) AS bigint) AS bytes
            FROM events
            GROUP BY 1, 2
        )
        SELECT partition_day, file_id, n_rows, bytes,
               cast(coalesce(sum(bytes) OVER (
                        PARTITION BY partition_day ORDER BY file_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS bigint)
                   AS cum_bytes_before,
               cast(coalesce(sum(bytes) OVER (
                        PARTITION BY partition_day ORDER BY file_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)
                    // {COMPACT_TARGET_BYTES} AS bigint) AS target_bin
        FROM files
        ORDER BY partition_day, file_id
    """,
}
