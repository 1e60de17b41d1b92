"""SparkSession factory.

Local testing runs one JVM with N threads; the configuration is chosen so
the same code is correct on a real multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so plans self-correct
  at scale without hand-tuning per dataset,
- shuffle partitions sized to cores locally (a cluster deployment would
  raise this or rely on AQE's initialPartitionNum),
- UTC session timezone so timestamp semantics are engine-independent
  (parity with the DuckDB oracle and any downstream store),
- Arrow enabled for the few pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One local thread per CPU this process may run on, unless
# SPARK_GRAFT_CPUS says otherwise.
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(
    len(os.sched_getaffinity(0))
)


def get_session(app_name: str = "rtss_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession with scale-appropriate defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally created session.

    The correctness driver passes its own SparkSession; timestamp
    comparisons against the DuckDB oracle require a UTC session timezone,
    and AQE/Arrow are runtime-settable too. Idempotent.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # The events table stores TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read it as long and convert in the loader.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver parquet writes timestamps without isAdjustedToUTC metadata;
    # with NTZ inference on, Spark 4 surfaces them as TIMESTAMP_NTZ, which
    # breaks unix_micros/window arithmetic and diverges from the DuckDB
    # oracle's naive-as-UTC reading. Read them as session-tz TIMESTAMP
    # (session tz pinned UTC above) so the wall-clock values are identical
    # and filter pushdown still reaches the scan.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Timestamp parity is meaningless if the pin silently failed (e.g. a
    # future Spark makes the conf static): fail loudly, not with a
    # hash mismatch three layers up.
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    return spark


def sweep_persisted(spark: SparkSession) -> int:
    """Unpersist every cached/localCheckpointed RDD in the session.

    Public library twin of the sweep bench.py applies between queries.
    Registry operators build lazy plans, so what a sweep frees is the
    blocks of the sites listed in functions/checkpoints.py: the CC,
    PageRank, label-propagation and k-core rounds, and any fit-step
    input a failed call left behind. Call it between logical units of
    work.

    A held registry result survives a sweep and recomputes from its
    sources, EXCEPT a PageRank, label-propagation or k-core result:
    its plan reads a round checkpoint whose lineage is truncated, so
    collect it before sweeping. The statistics memos (BPE merge table,
    retrieval corpus stats, blocking quantizer) hold plain Python
    data, not DataFrames.

    The dup-graph memo (the near-dup edge set and CC labels — see
    functions/checkpoints.py) is sweep-exempt: freeing it would leave a
    stale handle whose next reuse FAILS (truncated lineage cannot
    recompute).

    Returns the number of RDDs unpersisted (async, non-blocking).
    """
    from real_time_streaming_system_with_apache_kafka_spark.functions.checkpoints import (
        protected_rdd_ids,
    )

    keep = protected_rdd_ids()
    n = 0
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        if rdd.id() in keep:
            continue
        rdd.unpersist(False)
        n += 1
    return n
