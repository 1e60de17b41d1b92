"""Spark-vs-DuckDB oracle comparator, mirroring the driver's t2 gate
(row-count + column names + order-insensitive values). Comparison here
is EXACT for non-floats and allows 0 ulp drift for floats by default —
queries are written so both engines produce bit-identical numbers
(decimal-exact sums, identical rounding); any looseness would hide a
future hash mismatch.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

from real_time_streaming_system_with_apache_kafka_spark.schemas import STAR_TABLES


def last_job_id(spark) -> int:
    """The newest Spark job id; a difference of two counts the jobs in
    between. Job starts reach the status tracker through the listener
    bus. Unlike the number of retained jobs, the id does not saturate at
    spark.ui.retainedJobs over a long session."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _sortable(row):
    return tuple((str(type(v)), str(v)) for v in row)


def assert_parity(spark_df, oracle_query: str, sf_dir: str, name: str = "?", float_rel: float = 0.0):
    cols_o, rows_o = run_oracle(oracle_query, sf_dir)
    cols_s = spark_df.columns
    assert sorted(cols_s) == sorted(cols_o), (
        f"{name}: column mismatch spark={sorted(cols_s)} oracle={sorted(cols_o)}"
    )
    rows_s = [tuple(r[c] for c in cols_o) for r in spark_df.collect()]
    assert len(rows_s) == len(rows_o), (
        f"{name}: row count spark={len(rows_s)} oracle={len(rows_o)}"
    )
    norm_s = sorted(([_norm(v) for v in r] for r in rows_s), key=_sortable)
    norm_o = sorted(([_norm(v) for v in r] for r in rows_o), key=_sortable)
    for i, (rs, ro) in enumerate(zip(norm_s, norm_o)):
        for c, (vs, vo) in enumerate(zip(rs, ro)):
            if vs == vo:
                continue
            if (
                float_rel > 0
                and isinstance(vs, float)
                and isinstance(vo, float)
                and math.isclose(vs, vo, rel_tol=float_rel, abs_tol=float_rel)
            ):
                continue
            raise AssertionError(
                f"{name}: value mismatch at sorted-row {i} col {cols_o[c]!r}: "
                f"spark={vs!r} oracle={vo!r}"
            )
