"""Batch table loaders over the driver-provisioned parquet star schema.

Parquet is the canonical at-rest format (the reference's PostgreSQL table,
consumer.py:37-58, maps to a columnar table Spark can scan with predicate
pushdown + column pruning). Loads are plain ``spark.read.parquet`` so
Catalyst keeps full pushdown/pruning freedom — no eager caching, no
collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from real_time_streaming_system_with_apache_kafka_spark.schemas import STAR_TABLES
from real_time_streaming_system_with_apache_kafka_spark.session import pin_session_defaults

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one star-schema table as a lazy DataFrame."""
    pin_session_defaults(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # A parquet TIMESTAMP(NANOS) events.ts surfaces as epoch-nanos
        # long (see pin_session_defaults). The provisioned sf0.001-sf0.1
        # files store microsecond TIMESTAMP and skip this branch, hence
        # the dtype gate. Integer division keeps the microsecond value
        # exact (double division would lose precision above 2^53 ns).
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "timestamp_ntz"]
    if ntz_cols:
        # Defense in depth: if the NTZ-inference pin didn't take (static
        # conf on a future Spark, or a session created before the pin),
        # normalize to session-tz TIMESTAMP here. With the session pinned
        # UTC the wall-clock values are unchanged.
        from pyspark.sql import functions as F

        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def load_all(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load every table; keys match the DuckDB oracle view names."""
    return {name: load(spark, name, sf_dir) for name in STAR_TABLES}


_ROWGROUP_CACHE: dict[str, int] = {}


def _parquet_rowgroups(path: str) -> int:
    """Rowgroup count from the parquet footer (the same metadata any
    planner reads); -1 when the footer isn't locally inspectable
    (object store path, missing file) — callers treat that as
    'properly laid out' and skip the rebalance."""
    if path in _ROWGROUP_CACHE:
        return _ROWGROUP_CACHE[path]
    n = -1
    try:
        if os.path.isfile(path):
            import pyarrow.parquet as pq

            n = pq.ParquetFile(path).num_row_groups
    except Exception:  # noqa: BLE001 — footer probe is best-effort
        n = -1
    _ROWGROUP_CACHE[path] = n
    return n


def load_rebalanced(
    spark: SparkSession, name: str, sf_dir: str | None = None
) -> DataFrame:
    """Load for CPU-heavy per-row kernels (hashing, shingling, JSON
    codec, Arrow UDF encode): when the at-rest layout is degenerate —
    fewer rowgroups than cores, so the parquet scan cannot fan out past
    the rowgroup count no matter how bytes are split — round-robin
    repartition to machine parallelism so the kernel uses every core.

    On properly laid-out data this is a NO-OP (no shuffle): a 100 TB
    table arrives as thousands of files x rowgroups and the scan
    already saturates the cluster. The guard exists because
    single-rowgroup files are a real-world pathology (a writer with
    128 MB rowgroups emitting 10 MB files — exactly the bench fixtures
    here), and the only scale-correct remedy Spark offers is an
    explicit exchange, priced at one pass over the (small, by
    construction) pathological input.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    df = load(spark, name, sf_dir)
    cores = spark.sparkContext.defaultParallelism
    rg = _parquet_rowgroups(os.path.join(sf_dir, f"{name}.parquet"))
    if 0 <= rg < cores:
        df = df.repartition(cores)
    return df
