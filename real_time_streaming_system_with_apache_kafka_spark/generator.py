"""Seeded synthetic post-trade generator (SURVEY.md SRC1).

Re-expresses the reference's trade generator semantics
(reference producer.py:11-128: weighted categoricals producer.py:39,
per-class quantity/price ranges producer.py:62-76, derived
notional/fees producer.py:78-84, T+N settlement producer.py:89-97,
priority/STP rules producer.py:100-105) as Spark SQL expressions
over ``spark.range(n)``. The constant tables below become literal
arrays and ``CASE`` branches inside those expressions, and the columns
are built in one ``selectExpr`` projection per dependency level, so a
plan costs a few Py4J calls however many options the tables hold.

Two deliberate departures from the reference, both scale-driven:

1. **Deterministic.** The reference draws from unseeded ``random`` and
   Faker. Here every value derives from ``xxhash64(id, seed, tag)``, so
   a row's content depends only on (id, seed) — not on partitioning,
   task order, or retries. That's what makes the generator safe on a
   1000-executor cluster (speculative re-execution produces identical
   rows) and makes golden tests possible.
2. **Declarative.** One ``range(n)`` + SQL expressions = a lazy plan
   Catalyst can parallelize arbitrarily; generating 100 TB of synthetic
   trades is embarrassingly parallel with zero Python in the loop
   (whole-stage codegen end to end).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_streaming_system_with_apache_kafka_spark.schemas import TRADE_SCHEMA

# Committed golden fixture: the live generator's output at seed=42,
# n=20000, bit-pinned by tests/test_dashboard_oracles.py. Single source
# for every fixture-backed oracle (dashboard.py imports it from here).
TRADES_FIXTURE = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__),
        "..",
        "tests",
        "fixtures",
        "trades_seed42_n20000.parquet",
    )
)

ASSET_CLASSES = ["Equity", "Fixed Income", "Derivative", "FX", "Commodity"]
SIDES = ["Buy", "Sell"]
COUNTERPARTIES = [
    "Goldman Sachs", "JP Morgan", "Morgan Stanley", "BNP Paribas",
    "State Street", "Northern Trust", "Citi", "Credit Suisse",
]
STATUSES = [
    "Pending Confirmation", "Confirmed", "Settlement Pending",
    "Settled", "Break - Mismatch", "Break - Missing Trade",
]
STATUS_WEIGHTS = [0.40, 0.35, 0.15, 0.08, 0.015, 0.005]  # producer.py:39
INSTRUMENTS = {  # producer.py:42-48
    "Equity": ["AAPL", "MSFT", "GOOGL", "AMZN", "TSLA", "JPM", "BAC", "GS"],
    "Fixed Income": ["US10Y", "US30Y", "CORP_AAA", "CORP_BBB", "MUNI"],
    "Derivative": ["SPX_CALL", "SPX_PUT", "VIX_FUT", "ES_FUT", "SWAP_5Y"],
    "FX": ["EUR/USD", "GBP/USD", "USD/JPY", "USD/CHF", "AUD/USD"],
    "Commodity": ["GC_FUT", "CL_FUT", "NG_FUT", "SI_FUT"],
}
VENUES = ["DTC", "Euroclear", "Clearstream", "CME", "ICE", "OCC"]
# (quantity lo, hi, price lo, hi, price dp) per class — producer.py:62-76
RANGES = {
    "Equity": (100, 50_000, 50.0, 500.0, 2),
    "Fixed Income": (100_000, 10_000_000, 95.0, 105.0, 4),
    "Derivative": (1, 100, 1.0, 50.0, 2),
    "FX": (100_000, 5_000_000, 0.5, 1.5, 6),
    "Commodity": (1, 500, 50.0, 2000.0, 2),
}
SETTLEMENT_DAYS = {  # producer.py:89-95
    "Equity": 2, "Fixed Income": 1, "Derivative": 1, "FX": 2, "Commodity": 1,
}
# Deterministic stand-in for Faker analyst names (producer.py:127).
ANALYSTS = [
    "Alex Morgan", "Sam Rivera", "Jordan Lee", "Casey Kim", "Riley Chen",
    "Drew Patel", "Taylor Brooks", "Avery Nguyen", "Quinn Davis", "Jamie Fox",
    "Morgan Reed", "Cameron Diaz", "Skyler Hunt", "Devon Cruz", "Harper Wells",
    "Rowan Blake", "Emerson Cole", "Finley Hayes", "Sawyer Stone", "Peyton Ash",
]

_MASK = 1 << 30


def _double(x: float) -> str:
    """A DOUBLE constant: a bare ``50.0`` in Spark SQL is a DECIMAL."""
    return f"CAST({x!r} AS DOUBLE)"


def _hash(seed: int, tag: str) -> str:
    """Hash of (row id, seed, tag): row-deterministic regardless of
    partitioning, unlike ``rand(seed)``."""
    return f"xxhash64(id, {seed}, '{tag}')"


def _uniform(seed: int, tag: str) -> str:
    """Uniform [0,1) derived from (row id, seed, tag)."""
    return f"(pmod({_hash(seed, tag)}, {_MASK}) / {_MASK})"


def _pick(options: list[str], seed: int, tag: str) -> str:
    arr = ", ".join(f"'{o}'" for o in options)
    return f"element_at(array({arr}), CAST(pmod({_hash(seed, tag)}, {len(options)}) + 1 AS INT))"


def _weighted_pick(options: list[str], weights: list[float], seed: int, tag: str) -> str:
    """Cumulative-weight ladder (producer.py:58 random.choices)."""
    u, cum, whens = _uniform(seed, tag), 0.0, []
    for opt, w in zip(options[:-1], weights[:-1]):
        cum += w
        whens.append(f"WHEN {u} < {_double(cum)} THEN '{opt}'")
    return f"CASE {' '.join(whens)} ELSE '{options[-1]}' END"


def _per_class(branches: dict[str, str]) -> str:
    """One ``CASE asset_class``; a class without a branch yields NULL."""
    whens = " ".join(f"WHEN '{cls}' THEN {sql}" for cls, sql in branches.items())
    return f"CASE asset_class {whens} END"


def trades(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    base_date: dt.date = dt.date(2026, 1, 5),
    mean_interval_ms: int = 900,
    num_partitions: int | None = None,
) -> DataFrame:
    """Generate ``n_rows`` deterministic trades matching TRADE_SCHEMA.

    ``mean_interval_ms`` paces event time like the reference's
    U(0.3, 1.5) s sleep (producer.py:172): trade *i* lands at
    ``base_date + i * interval + jitter``.
    """
    df = spark.range(0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism)
    return decorate_ids(df, seed=seed, base_date=base_date, mean_interval_ms=mean_interval_ms)


def decorate_ids(
    df: DataFrame,
    seed: int = 42,
    base_date: dt.date = dt.date(2026, 1, 5),
    mean_interval_ms: int = 900,
) -> DataFrame:
    """Decorate any DataFrame bearing an ``id`` column (batch ``range``
    or a streaming ``rate`` source) into full trade rows.  Every value
    derives from (id, seed) alone, so the SAME id produces the SAME
    trade in batch and streaming — the property the stream/batch
    equivalence tests and the soak's redelivery injection rely on."""
    base_us = int(
        dt.datetime.combine(base_date, dt.time(9, 30)).replace(tzinfo=dt.timezone.utc).timestamp()
        * 1_000_000
    )
    step_us = mean_interval_ms * 1000
    qty, px = _uniform(seed, "qty"), _uniform(seed, "price")

    def fee(tag: str, lo: float, hi: float) -> str:
        rate = f"{_double(lo)} + {_uniform(seed, tag)} * {_double(hi - lo)}"
        return f"round(notional_value * ({rate}), 2)"

    # Per-class rules: producer.py:55, :62-76, :89-97.
    instrument = {c: _pick(ticks, seed, f"instr_{c}") for c, ticks in INSTRUMENTS.items()}
    quantity = {
        c: f"CAST(floor({qty} * {hi - lo + 1}) + {lo} AS BIGINT)"
        for c, (lo, hi, *_) in RANGES.items()
    }
    price = {
        c: f"round({_double(lo)} + {px} * {_double(hi - lo)}, {dp})"
        for c, (_, _, lo, hi, dp) in RANGES.items()
    }
    settlement = {c: f"date_add(trade_date, {n})" for c, n in SETTLEMENT_DAYS.items()}

    # One projection per dependency level; each column is one SQL string.
    levels = [
        {
            "asset_class": _pick(ASSET_CLASSES, seed, "class"),
            "side": _pick(SIDES, seed, "side"),
            "counterparty": _pick(COUNTERPARTIES, seed, "cpty"),
            "status": _weighted_pick(STATUSES, STATUS_WEIGHTS, seed, "status"),
            "settlement_venue": _pick(VENUES, seed, "venue"),
            "trade_date": f"date_sub(DATE '{base_date.isoformat()}', "
            f"CAST(pmod({_hash(seed, 'tdate')}, 4) AS INT))",
            "timestamp": f"timestamp_micros({base_us} + id * {step_us} "
            f"+ pmod({_hash(seed, 'jitter')}, {step_us}))",
            "trade_id": f"substring(md5(concat_ws('#', {seed}, id)), 1, 12)",
            "processed_by": _pick(ANALYSTS, seed, "analyst"),
        },
        {
            "instrument": _per_class(instrument),
            "quantity": _per_class(quantity),
            "price": _per_class(price),
            "settlement_date": _per_class(settlement),
        },
        {"notional_value": "round(quantity * price, 2)"},
        {
            "brokerage_fee": fee("fee_brk", 0.0001, 0.0015),  # producer.py:81
            "clearing_fee": fee("fee_clr", 0.00005, 0.0003),  # producer.py:82
            "exchange_fee": fee("fee_exc", 0.00003, 0.0002),  # producer.py:83
            # producer.py:100-105
            "priority": "CASE WHEN contains(status, 'Break') OR notional_value > 1000000 "
            "THEN 'High' ELSE 'Normal' END",
            "stp_eligible": "status NOT IN ('Break - Mismatch', 'Break - Missing Trade')",
        },
        {"total_fees": "round(brokerage_fee + clearing_fee + exchange_fee, 2)"},
    ]
    df = df.select("id")
    for level in levels:
        df = df.selectExpr("*", *[f"{sql} AS `{name}`" for name, sql in level.items()])

    # Project to the canonical schema order/types (single declaration,
    # unlike the reference's three copies — SURVEY.md §1.2).
    return df.selectExpr(
        *[
            f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in TRADE_SCHEMA.fields
        ]
    )


def trades_rate_stream(
    spark: SparkSession,
    rows_per_second: int = 10_000,
    seed: int = 42,
    dup_every_n: int = 20,
    num_partitions: int | None = None,
    mean_interval_ms: int = 900,
) -> DataFrame:
    """Unbounded trade stream from the built-in ``rate`` source — the
    soak-scale twin of the reference's one-trade-per-loop producer
    (producer.py:160-172), generating JVM-side at arbitrary rate.

    Every ``dup_every_n``-th tick re-emits the PREVIOUS tick's id, so
    ~1/n of rows are exact at-least-once redeliveries (same trade_id,
    same payload — the Kafka redelivery shape W4's dedup must absorb).
    Event time advances ``mean_interval_ms`` per id regardless of wall
    rate, so the watermark sweeps forward and state eviction is
    exercised continuously at any throughput.
    """
    reader = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option(
            "numPartitions",
            num_partitions or spark.sparkContext.defaultParallelism,
        )
    )
    ticks = reader.load().select(
        F.when(
            (F.pmod(F.col("value"), F.lit(dup_every_n)) == 0) & (F.col("value") > 0),
            F.col("value") - 1,
        )
        .otherwise(F.col("value"))
        .alias("id")
    )
    return decorate_ids(ticks, seed=seed, mean_interval_ms=mean_interval_ms)


def with_duplicates(df: DataFrame, every_n: int = 50) -> DataFrame:
    """Inject duplicate trade_ids (same id, 1 s-later timestamp) to
    exercise at-least-once delivery + idempotent-ingest dedup (W4,
    reference consumer.py:78 ON CONFLICT DO NOTHING)."""
    dups = (
        df.filter(F.pmod(F.xxhash64("trade_id"), F.lit(every_n)) == 0)
        .withColumn("timestamp", F.col("timestamp") + F.expr("INTERVAL 1 SECOND"))
    )
    return df.unionAll(dups)


def _decimals_as_double(df: DataFrame) -> DataFrame:
    """Cast every decimal column to double, keeping names and order."""
    return df.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, T.DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def src1_trade_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: 10k seeded trades. Oracled since r5 against the
    committed golden fixture (trade timestamps are strictly increasing
    in row id, so the first 10k of the 20k fixture by timestamp ARE
    rows 0..9999): xxhash64 isn't re-expressible in ANSI SQL, but the
    generator is deterministic, and the fixture is pinned bit-for-bit
    to the live generator by tests/test_dashboard_oracles.py. Decimal
    columns are emitted as double on both sides — exact at these
    magnitudes (all scaled units < 2^53) — because DuckDB's Python
    DECIMALs strip trailing zeros and mismatch fixed-scale
    representations."""
    return _decimals_as_double(trades(spark, 10_000))


def w4_wire_roundtrip_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the full ingest pipeline in batch mode — trades
    + injected duplicates -> JSON wire encode -> ``from_json`` decode
    -> first-write-wins dedup (SRC5 + W4/SNK2, reference
    consumer.py:17/:78). The identical expressions run as a Structured
    Streaming plan in streaming/ingest.py (tests/test_streaming.py
    asserts batch/stream equivalence).

    Hash-grade oracle (since r7): first-write-wins keeps the ORIGINAL
    copy of every duplicated trade (the injected dup is +1 s later), so
    the deduped roundtrip output is by construction the seeded
    generator's 10k trades — the same committed golden fixture that
    oracles src1. Either the JSON encode/decode round-trips every field
    bit-for-bit (microsecond timestamps, fixed-scale decimals, dates)
    or the value hash fails. Decimals cast to double on both sides for
    the same representation reason as src1 (exact: scaled units < 2^53).
    """
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

    base = with_duplicates(trades(spark, 10_000), every_n=20)
    decoded = ingest.parse_wire(ingest.to_wire_json(base))
    # First-write-wins must be deterministic in batch too: a bare
    # dropDuplicates keeps an arbitrary copy (partition-order-
    # dependent); min_by on event time keeps the original.
    cols = decoded.columns
    deduped = (
        decoded.groupBy("trade_id")
        .agg(F.min_by(F.struct(*cols), F.col("timestamp")).alias("r"))
        .select("r.*")
    )
    return _decimals_as_double(deduped)


QUERIES = {
    "src1_trade_generator": src1_trade_generator,
    "w4_wire_roundtrip_dedup": w4_wire_roundtrip_dedup,
}


_GOLDEN_10K_SQL = f"""
        SELECT trade_id, asset_class, instrument, side,
               cast(quantity AS double) AS quantity,
               cast(price AS double) AS price,
               cast(notional_value AS double) AS notional_value,
               counterparty, status, settlement_venue,
               trade_date, settlement_date,
               cast(brokerage_fee AS double) AS brokerage_fee,
               cast(clearing_fee AS double) AS clearing_fee,
               cast(exchange_fee AS double) AS exchange_fee,
               cast(total_fees AS double) AS total_fees,
               priority, stp_eligible, timestamp, processed_by
        FROM read_parquet('{TRADES_FIXTURE}')
        ORDER BY timestamp
        LIMIT 10000
    """

ORACLES: dict[str, str] = {
    # Golden-fixture oracles (src1 docstring): the generator itself,
    # hash-checked end to end. w4's deduped roundtrip equals the same
    # 10k trades (first-write-wins keeps the original copy), so the
    # fixture is its oracle too — the encode/decode either round-trips
    # bit-for-bit or the hash fails (w4 docstring).
    "w4_wire_roundtrip_dedup": _GOLDEN_10K_SQL,
    "src1_trade_generator": _GOLDEN_10K_SQL,
}
