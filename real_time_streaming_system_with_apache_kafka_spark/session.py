"""SparkSession factory.

Local testing runs one JVM with N threads; the configuration is chosen so
the same code is correct on a real multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so plans self-correct
  at scale without hand-tuning per dataset,
- shuffle partitions sized to cores locally (a cluster deployment would
  raise this or rely on AQE's initialPartitionNum),
- UTC session timezone so timestamp semantics are engine-independent
  (parity with the DuckDB oracle and any downstream store),
- Arrow enabled for the few pandas-UDF code paths,
- streaming checkpoints written through the Hadoop ``FileSystem`` API:
  pip PySpark ships no ``libhadoop``, so the default ``FileContext``
  manager resolves every checkpoint file status by forking a
  ``readlink`` process.
"""

from __future__ import annotations

import os

from pyspark import SparkFiles
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
        # Without libhadoop, the default FileContext-based manager forks
        # a `readlink` for every offset, commit, state and .crc file. On
        # a local master both managers write a temp file and rename it,
        # which is atomic; this one checks exists-then-rename where the
        # other renames without overwrite, which only two drivers
        # writing one checkpoint could tell apart.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
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
    # A parquet TIMESTAMP(NANOS) column is rejected by the vectorized
    # reader; the loader declares it long and converts events.ts. The
    # provisioned events.ts is microsecond TIMESTAMP, so this only guards
    # other input.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver parquet writes timestamps without isAdjustedToUTC metadata;
    # with NTZ inference on, Spark 4 surfaces them as TIMESTAMP_NTZ, which
    # breaks unix_micros/window arithmetic and diverges from the DuckDB
    # oracle's naive-as-UTC reading. The table loader declares such
    # columns as session-tz TIMESTAMP (session tz pinned UTC above), so
    # this only governs reads that still infer their schema, such as
    # sources/layout.py's.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Timestamp parity is meaningless if the pin silently failed (e.g. a
    # future Spark makes the conf static): fail loudly, not with a
    # hash mismatch three layers up.
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # The iterative rounds and fit steps truncate lineage with
    # checkpoint(), which needs a checkpoint dir. Default to one under
    # the context's SparkFiles root, which Spark deletes when the context
    # stops; a dir the caller already set is left alone.
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.path.join(SparkFiles.getRootDirectory(), "checkpoints")
        )
    return spark


def sweep_persisted(spark: SparkSession) -> int:
    """Unpersist every cached RDD in the session.

    Call it between logical units of work. Registry results read their
    sources or checkpoint files, never cached blocks, so a held result
    still collects after a sweep.

    Returns the number of RDDs unpersisted (async, non-blocking).
    """
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(False)
    return len(rdds)
