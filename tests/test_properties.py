"""Property-based tests (hypothesis): invariants that must hold for
arbitrary inputs, not just the fixtures — wire-roundtrip fidelity and
similarity-measure bounds."""

from __future__ import annotations

import json
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions import arrays
from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F),
    min_size=1,
    max_size=20,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    trade_id=_text,
    qty=st.decimals(min_value=1, max_value=10**9, places=2),
    status=st.sampled_from(["Settled", "Confirmed", "Break - Mismatch"]),
)
def test_wire_roundtrip_preserves_fields(spark, trade_id, qty, status):
    msg = {
        "trade_id": trade_id,
        "quantity": float(qty),
        "status": status,
        "timestamp": "2026-01-05T09:30:00.123456",
        "stp_eligible": "Break" not in status,
    }
    df = spark.createDataFrame([(json.dumps(msg),)], "value string")
    row = ingest.parse_wire(df).collect()[0]
    assert row["trade_id"] == trade_id
    assert float(row["quantity"]) == float(qty)
    assert row["status"] == status
    assert row["stp_eligible"] == ("Break" not in status)
    assert row["timestamp"].microsecond == 123456


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vec=st.lists(
        st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
        min_size=4,
        max_size=16,
    )
)
def test_cosine_self_similarity_and_bounds(spark, vec):
    if all(abs(x) < 1e-6 for x in vec):
        return  # zero vector: cosine undefined
    df = spark.createDataFrame([(vec, vec)], "a array<float>, b array<float>")
    row = df.select(arrays.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]
    assert math.isclose(row["c"], 1.0, abs_tol=1e-6)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False, width=32), min_size=8, max_size=8),
    b=st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False, width=32), min_size=8, max_size=8),
)
def test_cosine_range(spark, a, b):
    if all(abs(x) < 1e-6 for x in a) or all(abs(x) < 1e-6 for x in b):
        return
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    row = df.select(arrays.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]
    assert -1.0 - 1e-6 <= row["c"] <= 1.0 + 1e-6


def test_quantized_kernel_matches_decimal_referee(spark):
    """The hot-path quantized cosine must stay within the 7dp
    quantization error bound of the exact-decimal referee kernel
    (independent implementations: numpy integer GEMM vs Catalyst
    decimal(18,15) higher-order lambdas)."""
    import numpy as np

    rng = np.random.default_rng(20260813)
    rows = [
        (rng.uniform(-0.6, 0.6, 64).astype("float32").tolist(),
         rng.uniform(-0.6, 0.6, 64).astype("float32").tolist())
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    ref = F.round(
        arrays.dot(F.col("a"), F.col("b"))
        / (arrays.norm(F.col("a")) * arrays.norm(F.col("b"))),
        9,
    )
    got = df.select(
        arrays.cosine(F.col("a"), F.col("b")).alias("q"), ref.alias("r")
    ).collect()
    # 7dp element quantization on 64 dims perturbs the cosine by
    # O(1e-7/|v|); the fixture norms are ~2.8, so 1e-6 is generous.
    for r in got:
        assert abs(r["q"] - r["r"]) < 1e-6, (r["q"], r["r"])


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(_text, min_size=1, max_size=30),
    n=st.sampled_from([2, 3, 5]),
)
def test_regex_ngrams_equal_lambda_spec_on_arbitrary_words(spark, words, n):
    """regex_word_ngrams must equal the interpreted transform-lambda
    spec for ARBITRARY single-space-joined word lists (not just the
    fixture corpus), for every n in operator use."""
    from real_time_streaming_system_with_apache_kafka_spark.functions.ngrams import (
        _ngrams,
        regex_word_ngrams,
    )

    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        _ngrams(F.split("text", " "), n).alias("spec"),
        regex_word_ngrams(F.col("text"), n).alias("fast"),
    ).collect()[0]
    assert row["spec"] == row["fast"]


def _py_morton(u: int, t: int) -> int:
    z = 0
    for i in range(16):
        z |= ((u >> i) & 1) << (2 * i)
        z |= ((t >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    u=st.integers(min_value=0, max_value=65535),
    t=st.integers(min_value=0, max_value=65535),
)
def test_zorder_codegen_matches_python_reference(spark, u, t):
    """The codegen'd 32-term interleave (layout.py) must equal a
    bit-twiddling Python reference for arbitrary 16-bit inputs, in
    BOTH dialects (Spark via F.expr, DuckDB via the oracle string) —
    the formula generator cannot drift from the Morton spec."""
    import duckdb

    from real_time_streaming_system_with_apache_kafka_spark.operators.layout import (
        _z_interleave,
    )

    expect = _py_morton(u, t)
    got_spark = (
        spark.createDataFrame([(u, t)], "ux long, tx long")
        .selectExpr(f"({_z_interleave('ux', 'tx', spark_sql=True)}) AS z")
        .collect()[0]
        .z
    )
    # Cast the literals to BIGINT: a bare int literal is INT32 in
    # DuckDB and << overflows at bit 31; the real oracle's operands
    # are BIGINT columns, so this matches its typing.
    got_duck = duckdb.sql(
        f"SELECT ({_z_interleave(f'cast({u} AS bigint)', f'cast({t} AS bigint)', spark_sql=False)}) AS z"
    ).fetchall()[0][0]
    assert got_spark == expect
    assert got_duck == expect
