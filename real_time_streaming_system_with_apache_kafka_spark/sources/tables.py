"""Batch table loaders over the driver-provisioned parquet star schema.

Parquet is the canonical at-rest format (the reference's PostgreSQL table,
consumer.py:37-58, maps to a columnar table Spark can scan with predicate
pushdown + column pruning). ``load`` reads each table's schema from its
parquet footer with pyarrow, driver-side, and declares it through
``spark.read.schema(...)``. An undeclared read would run a Spark job to
infer the schema; a declared one lets a plan over the tables build with
no job. Loads stay lazy — no eager caching, no collect.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from real_time_streaming_system_with_apache_kafka_spark.session import pin_session_defaults

# Spark writes timestamps as INT96 by default; pyarrow would surface
# those as timestamp[ns] and the loader would mistake them for
# TIMESTAMP(NANOS) columns.
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def _scan(spark: SparkSession, name: str, sf_dir: str) -> tuple[DataFrame, int]:
    """The lazy table and its rowgroup count, both from one footer read.
    The count is -1 unless the table is a single local file."""
    pin_session_defaults(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = ds.dataset(path, format=_PARQUET)
    # A parquet TIMESTAMP(NANOS) column reads as epoch-nanos long under
    # spark.sql.legacy.parquet.nanosAsLong (see pin_session_defaults);
    # declared as timestamp, the read fails on the type mismatch.
    arrow = pa.schema(
        f.with_type(pa.int64())
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in footer.schema
    )
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=False)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # The provisioned sf0.001-sf0.1 files store microsecond TIMESTAMP
        # and skip this branch. Integer division keeps the microsecond
        # value exact (double division would lose precision above
        # 2^53 ns).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    rowgroups = -1
    if os.path.isfile(path):
        rowgroups = next(footer.get_fragments()).num_row_groups
    return df, rowgroups


def load(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Load one star-schema table as a lazy DataFrame."""
    return _scan(spark, name, sf_dir)[0]


def load_rebalanced(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
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
    construction) pathological input. Only a single local file is
    checked; a directory of files gets no rebalance.
    """
    df, rowgroups = _scan(spark, name, sf_dir)
    cores = spark.sparkContext.defaultParallelism
    if 0 <= rowgroups < cores:
        df = df.repartition(cores)
    return df
