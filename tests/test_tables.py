"""The table loader's timestamp paths: events.ts arrives as session-tz
TIMESTAMP with exact microsecond values whether the file stores
TIMESTAMP(NANOS), microsecond TIMESTAMP with isAdjustedToUTC=false, or
Spark's own INT96, and loading builds a plan without a Spark job."""

from __future__ import annotations

import datetime as dt
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.sources.tables import (
    load,
    load_rebalanced,
)
from tests.parity import last_job_id

EPOCH = dt.datetime(1970, 1, 1)
# Sub-microsecond digits, which the nanos path must truncate.
TS_NS = [
    (dt.datetime(2024, 3, 1, 12, 30) - EPOCH) // dt.timedelta(microseconds=1) * 1000
    + i * 37_000_123_457
    for i in range(50)
]
EVENTS_DTYPES = [
    ("event_id", "bigint"),
    ("ts", "timestamp"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "double"),
    ("props", "string"),
]


def _events(ts: pa.Array) -> pa.Table:
    return pa.table({
        "event_id": pa.array(range(len(ts)), pa.int64()),
        "ts": ts,
        "user_id": pa.array([i % 7 for i in range(len(ts))], pa.int64()),
        "event_type": ["click"] * len(ts),
        "value": [float(i) for i in range(len(ts))],
        "props": ["{}"] * len(ts),
    })


def _write(spark, tmp_path, layout: str) -> None:
    path = str(tmp_path / "events.parquet")
    if layout == "nanos":
        pq.write_table(_events(pa.array(TS_NS, pa.timestamp("ns"))), path, version="2.6")
    elif layout == "micros":
        micros = [t // 1000 for t in TS_NS]
        pq.write_table(_events(pa.array(micros, pa.timestamp("us"))), path)
    else:
        pdf = _events(pa.array([t // 1000 for t in TS_NS], pa.int64())).to_pandas()
        df = spark.createDataFrame(pdf).withColumn("ts", F.timestamp_micros("ts"))
        df.repartition(3).write.parquet(path)


@pytest.mark.parametrize("layout", ["nanos", "micros", "spark_dir"])
def test_events_ts_loads_as_exact_timestamp_without_a_job(spark, tmp_path, layout):
    _write(spark, tmp_path, layout)
    if layout != "spark_dir":
        footer = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
        ts_type = json.loads(footer.logical_type.to_json())
        assert ts_type["isAdjustedToUTC"] is False
        assert ts_type["timeUnit"] == (
            "nanoseconds" if layout == "nanos" else "microseconds"
        )
    j0 = last_job_id(spark)
    df = load(spark, "events", str(tmp_path))
    rebalanced = load_rebalanced(spark, "events", str(tmp_path))
    assert df.dtypes == EVENTS_DTYPES
    assert last_job_id(spark) - j0 == 0
    got = sorted(
        r[0] for r in df.select(F.unix_micros("ts")).collect()
    )
    assert got == [t // 1000 for t in TS_NS]
    # Only a single file's rowgroup count is known; a directory of
    # files gets no rebalance.
    plan = rebalanced._jdf.queryExecution().analyzed().toString()
    assert ("Repartition " in plan) == (layout != "spark_dir")
