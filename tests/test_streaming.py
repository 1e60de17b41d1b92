"""End-to-end streaming tests (SURVEY.md §5.2): generator -> JSON wire
files -> streaming ingest (decode + dedup) -> windowed agg / alerts /
sinks, with batch recompute as the correctness oracle (batch/stream
equivalence is Structured Streaming's core invariant)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark import generator
from real_time_streaming_system_with_apache_kafka_spark.schemas import TRADE_SCHEMA
from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest, sinks, windowed

N = 3_000


@pytest.fixture(scope="module")
def wire_dir(spark, tmp_path_factory):
    """Generator output with injected duplicates, serialized as the
    JSON wire format (one object per line), split across files so the
    stream sees multiple batches."""
    path = tmp_path_factory.mktemp("wire")
    base = generator.trades(spark, N)
    dup = generator.with_duplicates(base, every_n=10)
    ingest.to_wire_json(dup).coalesce(4).write.mode("overwrite").text(str(path))
    return str(path), base.count(), dup.count()


def _drain(df, name, mode="append"):
    q = sinks.start_memory_sink(df, name, output_mode=mode)
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def test_wire_roundtrip_types(spark, wire_dir):
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    out = _drain(stream, "roundtrip")
    assert out.count() == n_dup
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in TRADE_SCHEMA.fields
    ]
    assert out.filter(F.col("timestamp").isNull() | F.col("trade_id").isNull()).count() == 0


def test_malformed_records_skipped(spark, tmp_path):
    lines = ['not json at all', '{"trade_id": 12', '{"unrelated": true}']
    good = json.dumps(
        {
            "trade_id": "abc123def456", "asset_class": "Equity", "instrument": "AAPL",
            "side": "Buy", "quantity": 100.0, "price": 50.0, "notional_value": 5000.0,
            "counterparty": "Citi", "status": "Settled", "settlement_venue": "DTC",
            "trade_date": "2026-01-05", "settlement_date": "2026-01-07",
            "brokerage_fee": 1.0, "clearing_fee": 0.5, "exchange_fee": 0.3,
            "total_fees": 1.8, "priority": "Normal", "stp_eligible": True,
            "timestamp": "2026-01-05T09:30:00.000000", "processed_by": "Alex Morgan",
        }
    )
    p = tmp_path / "msgs"
    p.mkdir()
    (p / "batch.txt").write_text("\n".join(lines + [good]) + "\n")
    stream = ingest.read_trade_stream_from_json_dir(spark, str(p))
    out = _drain(stream, "malformed")
    # SNK3 semantics: bad records skipped, the one good record survives.
    # ({"unrelated": true} parses as an all-null struct -> trade_id null
    # -> it still yields a row; the engine treats null-keyed rows as
    # parse failures and drops them at dedup/sink validation.)
    rows = out.filter(F.col("trade_id").isNotNull()).collect()
    assert len(rows) == 1 and rows[0]["instrument"] == "AAPL"


def test_streaming_dedup_first_write_wins(spark, wire_dir):
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    deduped = ingest.dedup_trades(stream)
    out = _drain(deduped, "deduped")
    assert n_dup > n_base  # duplicates were actually injected
    assert out.count() == n_base
    assert out.select("trade_id").distinct().count() == n_base


def test_stream_batch_window_equivalence(spark, wire_dir):
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    agg = windowed.minute_activity_stream(ingest.dedup_trades(stream))
    got = _drain(agg, "win_stream", mode="complete").collect()

    # Deterministic first-write-wins oracle (same pattern as
    # w4_wire_roundtrip_dedup): dropDuplicates picks an arbitrary
    # survivor, and injected duplicates carry +1s timestamps — one that
    # crossed a minute boundary could land in a different window and
    # flake the equivalence. min_by(struct, timestamp) always keeps the
    # earliest row, matching the stream's first-arrival-wins.
    parsed = ingest.parse_wire(spark.read.text(path), value_col="value")
    batch = (
        parsed.groupBy("trade_id")
        .agg(F.min_by(F.struct(*[c for c in parsed.columns]), "timestamp").alias("r"))
        .select("r.*")
    )
    want = (
        batch.groupBy(F.window("timestamp", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("notional_value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_notional"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_trades",
            "sum_notional",
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_session_window_stream(spark, wire_dir):
    """Native session_window: sessions close after the gap; totals
    reconcile with the input."""
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    sess = windowed.session_window_stream(stream, gap="10 minutes", watermark="2 minutes")
    out = _drain(sess, "sessions", mode="complete")
    rows = out.collect()
    assert rows
    assert sum(r["n_trades"] for r in rows) == n_dup
    for r in rows:
        assert r["session_end"] > r["session_start"]


def test_break_alerts_only_breaks(spark, wire_dir):
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    out = _drain(windowed.break_alerts(stream), "breaks")
    assert out.count() > 0  # ~2% break rate guarantees non-empty at N=3000
    assert out.filter(~F.col("status").contains("Break")).count() == 0


def _start_upsert(spark, path, sink, ckpt):
    """One wire file per micro-batch into a ``foreachBatch`` sink."""
    stream = ingest.read_trade_stream_from_json_dir(
        spark, path, max_files_per_trigger=1
    )
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _drain_upsert(spark, path, target, ckpt):
    q = _start_upsert(
        spark, path, sinks.keyed_upsert_foreach_batch(target, ["trade_id"]), ckpt
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(target)


def test_keyed_upsert_sink_on_conflict_do_nothing(spark, wire_dir, tmp_path):
    path, n_base, n_dup = wire_dir
    stored = _drain_upsert(
        spark, path, str(tmp_path / "trades_table"), str(tmp_path / "ckpt")
    )
    assert stored.count() == n_base
    assert stored.select("trade_id").distinct().count() == n_base


def test_keyed_upsert_sink_starts_on_an_empty_target(spark, wire_dir, tmp_path):
    """An existing empty target directory reads as no rows under the
    declared key schema, so the first batch anti-joins against nothing
    and the drain ends as on an absent target."""
    path, n_base, n_dup = wire_dir
    target = tmp_path / "trades_table"
    target.mkdir()
    stored = _drain_upsert(spark, path, str(target), str(tmp_path / "ckpt"))
    assert stored.count() == n_base
    assert stored.select("trade_id").distinct().count() == n_base


def test_keyed_upsert_sink_refuses_a_target_without_its_key(spark, tmp_path):
    """Read under the declared key schema, a target written with another
    key column reads ``trade_id`` as null and matches nothing, so the
    sink must fail the batch instead of appending duplicates."""
    target = str(tmp_path / "foreign")
    spark.createDataFrame([(1,), (2,)], "other_id long").write.parquet(target)
    upsert = sinks.keyed_upsert_foreach_batch(target, ["trade_id"])
    with pytest.raises(ValueError, match="no key column"):
        upsert(spark.createDataFrame([(1,), (2,)], "trade_id long"), 0)
    assert spark.read.parquet(target).count() == 2


def test_keyed_upsert_sink_replays_a_crashed_batch_exactly_once(
    spark, wire_dir, tmp_path
):
    """Crash after epoch 1's upsert landed and before its commit: the
    restart on the same checkpoint replays epoch 1 into a target that
    already holds its rows, and the anti-join keeps the sink free of
    duplicates and loss."""
    path, n_base, n_dup = wire_dir
    target = str(tmp_path / "trades_table")
    ckpt = str(tmp_path / "ckpt")
    upsert = sinks.keyed_upsert_foreach_batch(target, ["trade_id"])
    crashed = []

    def upsert_then_crash(batch, epoch_id):
        upsert(batch, epoch_id)
        if epoch_id == 1 and not crashed:
            crashed.append(epoch_id)
            raise RuntimeError("injected crash after the epoch-1 upsert")

    q = _start_upsert(spark, path, upsert_then_crash, ckpt)
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
    q.stop()
    assert crashed == [1]
    # The offset log holds epoch 1; the commit log does not.
    assert os.path.exists(os.path.join(ckpt, "offsets", "1"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "1"))
    # Epochs 0 and 1 landed; the later epochs did not.
    assert 0 < spark.read.parquet(target).count() < n_base

    q = _start_upsert(spark, path, upsert, ckpt)
    q.processAllAvailable()
    q.stop()
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))
    ids = [r[0] for r in spark.read.parquet(target).select("trade_id").collect()]
    want = {
        r[0]
        for r in ingest.parse_wire(spark.read.text(path))
        .select("trade_id")
        .distinct()
        .collect()
    }
    assert len(want) == n_base
    assert len(ids) == len(set(ids))
    assert set(ids) == want


def test_parquet_append_exactly_once(spark, wire_dir, tmp_path):
    path, n_base, n_dup = wire_dir
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    stream = ingest.dedup_trades(
        ingest.read_trade_stream_from_json_dir(spark, path)
    )
    q = sinks.start_parquet_append(stream, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    # Restart from the same checkpoint: no new input -> no duplicates.
    q2 = sinks.start_parquet_append(
        ingest.dedup_trades(ingest.read_trade_stream_from_json_dir(spark, path)),
        out_dir,
        ckpt,
    )
    q2.processAllAvailable()
    q2.stop()
    stored = spark.read.parquet(out_dir)
    assert stored.count() == n_base


def test_multibatch_soak(spark, tmp_path):
    """10 sequential micro-batches through decode -> dedup -> windowed
    agg: counts reconcile exactly at the end (incremental-state soak)."""
    import json as _json

    wire = tmp_path / "soak"
    wire.mkdir()
    stream = ingest.read_trade_stream_from_json_dir(spark, str(wire))
    agg = windowed.minute_activity_stream(ingest.dedup_trades(stream))
    q = sinks.start_memory_sink(agg, "soak_agg", output_mode="complete")

    total = 0
    for b in range(10):
        lines = []
        for k in range(50):
            ts = f"2026-01-05T{9 + b // 2:02d}:{(b % 2) * 30 + k // 10:02d}:{k % 10:02d}.000000"
            lines.append(
                _json.dumps(
                    {
                        "trade_id": f"b{b:02d}k{k:02d}",
                        "notional_value": 100.0,
                        "status": "Settled",
                        "timestamp": ts,
                    }
                )
            )
        # every 5th message re-delivered (at-least-once duplicates)
        lines += lines[::5]
        (wire / f"b{b:02d}.txt").write_text("\n".join(lines) + "\n")
        total += 50
        q.processAllAvailable()

    rows = spark.sql("SELECT * FROM soak_agg").collect()
    q.stop()
    assert sum(r["n_trades"] for r in rows) == total  # duplicates all dropped
    assert all(r["sum_notional"] == 100.0 * r["n_trades"] for r in rows)


def test_kafka_builders_construct(spark):
    """Plan-level check only (no broker/jar in this environment)."""
    from real_time_streaming_system_with_apache_kafka_spark.streaming import kafka_io

    cfg = kafka_io.KafkaConfig()
    try:
        df = kafka_io.read_trades_kafka(spark, cfg)
        assert "trade_id" in df.columns
    except Exception as e:  # connector jar absent is acceptable here
        assert "kafka" in str(e).lower()


def test_stream_batch_ohlc_equivalence(spark, wire_dir):
    """The OHLC stream twin must emit exactly the bars the batch
    operator computes over the same rows — min_by/max_by state merges
    associatively, so micro-batch arrival order cannot matter."""
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    got = _drain(
        windowed.ohlc_bars_stream(stream, watermark=None), "ohlc_stream",
        mode="complete",
    )
    batch = ingest.parse_wire(spark.read.text(path))
    want = windowed.ohlc_bars_stream(batch, watermark=None)
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )


def test_stream_partials_cascade_to_hour_losslessly(spark, wire_dir):
    """Continuous-aggregate maintenance: minute partials emitted by the
    STREAM (exact decimal sums) must roll up to hours bit-identically
    to an hour aggregate computed directly from the raw batch — the
    property that lets a 100 TB pipeline maintain day rollups from 24
    hourly rows instead of rescanning events."""
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    partials = windowed.minute_partials_stream(ingest.dedup_trades(stream))
    minute_rows = _drain(partials, "cascade_stream", mode="complete")

    cascaded = (
        minute_rows.groupBy(
            F.date_trunc("hour", F.col("window_start")).alias("hour_ts")
        )
        .agg(
            F.sum("n_trades").alias("n_trades"),
            F.sum("sv_dec").cast("double").alias("sum_notional"),
        )
        .collect()
    )

    parsed = ingest.parse_wire(spark.read.text(path), value_col="value")
    batch = (
        parsed.groupBy("trade_id")
        .agg(F.min_by(F.struct(*[c for c in parsed.columns]), "timestamp").alias("r"))
        .select("r.*")
    )
    direct = (
        batch.groupBy(F.date_trunc("hour", F.col("timestamp")).alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("notional_value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_notional"),
        )
        .collect()
    )
    assert sorted(map(tuple, cascaded)) == sorted(map(tuple, direct))


def test_checkpoint_recovery_resumes_dedup_state(spark, tmp_path):
    """Kill-and-restart MID-stream with new data arriving after the
    restart (the recovery scenario test_parquet_append_exactly_once
    doesn't cover): the restarted query must resume from checkpointed
    dedup state, so batch-1 trades redelivered after the restart are
    still dropped while genuinely-new trades append."""
    import json as _json

    wire = tmp_path / "wire"
    wire.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def wire_lines(ids):
        return [
            _json.dumps(
                {
                    "trade_id": i,
                    "notional_value": 50.0,
                    "status": "Settled",
                    "timestamp": f"2026-01-05T10:00:{s:02d}.000000",
                }
            )
            for s, i in enumerate(ids)
        ]

    def start():
        return sinks.start_parquet_append(
            ingest.dedup_trades(
                ingest.read_trade_stream_from_json_dir(spark, str(wire))
            ),
            out,
            ckpt,
        )

    batch1 = [f"t{k:03d}" for k in range(50)]
    (wire / "b1.txt").write_text("\n".join(wire_lines(batch1)) + "\n")
    q = start()
    q.processAllAvailable()
    q.stop()  # crash/redeploy point

    # After the restart: 10 at-least-once redeliveries of batch-1
    # trades (same ids, same timestamps — inside the 2-minute
    # watermark, so their keys are still in checkpointed state) plus
    # 50 new trades.
    (wire / "b2.txt").write_text(
        "\n".join(wire_lines(batch1[:10] + [f"u{k:03d}" for k in range(50)]))
        + "\n"
    )
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    stored = spark.read.parquet(out)
    assert stored.count() == 100  # 50 + 50, redeliveries dropped
    assert stored.select("trade_id").distinct().count() == 100


def test_minute_distinct_stream_matches_batch(spark, wire_dir):
    """Streaming COUNT(DISTINCT) via chained dedup->agg must equal the
    batch distinct (minute, counterparty) pairs of the raw wire —
    whichever duplicate the stream keeps, the (minute, counterparty)
    key set is identical, so the per-minute counts are exact."""
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    got = sorted(
        map(
            tuple,
            _drain(
                windowed.minute_distinct_stream(stream), "mds", mode="complete"
            ).collect(),
        )
    )
    parsed = ingest.parse_wire(spark.read.text(path), value_col="value")
    want = sorted(
        map(
            tuple,
            parsed.select(
                F.date_trunc("minute", "timestamp").alias("window_start"),
                "counterparty",
            )
            .distinct()
            .groupBy("window_start")
            .agg(F.count(F.lit(1)).alias("n_counterparties"))
            .collect(),
        )
    )
    assert got == want
    assert sum(r[1] for r in got) >= 1


def test_minute_checksum_stream_matches_batch(spark, wire_dir):
    """The per-window stream fingerprint must equal the batch
    signature of the same wire — micro-batch boundaries and arrival
    order cannot move a commutative hash sum."""
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    got = sorted(
        map(
            tuple,
            _drain(
                windowed.minute_checksum_stream(stream), "mcs", mode="complete"
            ).collect(),
        )
    )
    parsed = ingest.parse_wire(spark.read.text(path), value_col="value")
    rowhash = F.conv(
        F.substring(F.md5(F.col("trade_id")), 1, 15), 16, 10
    ).cast("decimal(38,0)")
    want = sorted(
        map(
            tuple,
            parsed.groupBy(F.window("timestamp", "1 minute").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(rowhash).cast("string").alias("hash_sum"),
            )
            .select(F.col("w.start").alias("window_start"), "n_rows", "hash_sum")
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 1


# ---------------------------------------------------------------------------
# Wire-format contract (golden fixture)
# ---------------------------------------------------------------------------

GOLDEN_WIRE = os.path.join(
    os.path.dirname(__file__), "fixtures", "wire_golden_seed42_n8.jsonl"
)


def test_wire_format_golden_bytes(spark):
    """SRC2/SRC5 byte-level contract: ``to_wire_json`` output for the
    seeded generator must match the committed golden fixture EXACTLY.

    The Kafka e2e is environment-gated (no broker in the sandbox), so
    this pins the producer payload shape the reference emits
    (producer.py:136 ``json.dumps`` of the trade dict) at the byte
    level: field order, ISO-8601 microsecond timestamps, decimal
    scales, boolean casing. Any drift in the wire format — a Spark
    to_json default change, a schema reorder, a timestamp-format
    regression — fails this test even without a broker.
    """
    t = generator.trades(spark, 8, seed=42, num_partitions=3)
    got = sorted(r["value"] for r in ingest.to_wire_json(t).collect())
    with open(GOLDEN_WIRE) as fh:
        want = fh.read().splitlines()
    assert got == want

    # Partition layout must not leak into the wire bytes (the 100 TB
    # property: payloads are row-deterministic, not task-deterministic).
    repart = sorted(
        r["value"]
        for r in ingest.to_wire_json(
            generator.trades(spark, 8, seed=42, num_partitions=7)
        ).collect()
    )
    assert repart == want


def test_wire_golden_decodes_to_typed_rows(spark):
    """The golden bytes round-trip through the consumer-side decoder:
    parse_wire over the fixture yields 8 typed rows under TRADE_SCHEMA
    with no nulls in the key/event-time columns (SNK3 drops none here)."""
    raw = spark.createDataFrame(
        [(line,) for line in open(GOLDEN_WIRE).read().splitlines()], ["value"]
    )
    typed = ingest.parse_wire(raw)
    # try_cast coercion makes every field nullable; the contract is
    # names + types in order, not nullability flags.
    assert [(f.name, f.dataType) for f in typed.schema.fields] == [
        (f.name, f.dataType) for f in TRADE_SCHEMA.fields
    ]
    rows = typed.collect()
    assert len(rows) == 8
    assert all(r["trade_id"] is not None and r["timestamp"] is not None for r in rows)


def test_trades_rate_stream_plan_and_determinism(spark):
    """The rate-source trade stream is unbounded, carries the trade
    schema (names+types), and its decoration is id-deterministic: the
    injected every-Nth redelivery re-emits the PREVIOUS id, which by
    ``decorate_ids`` determinism is an exact payload duplicate."""
    stream = generator.trades_rate_stream(spark, rows_per_second=100)
    assert stream.isStreaming
    assert [(f.name, f.dataType) for f in stream.schema.fields] == [
        (f.name, f.dataType) for f in ingest.parse_wire(
            spark.createDataFrame([("{}",)], ["value"])
        ).schema.fields
    ]

    # Batch twin of the stream's id mapping: every 20th tick -> id-1.
    ticks = spark.range(0, 200).select(
        F.when(
            (F.pmod(F.col("id"), F.lit(20)) == 0) & (F.col("id") > 0),
            F.col("id") - 1,
        ).otherwise(F.col("id")).alias("id")
    )
    rows = generator.decorate_ids(ticks).collect()
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r["trade_id"], []).append(tuple(r))
    dups = {k: v for k, v in by_key.items() if len(v) > 1}
    assert len(dups) == 9  # ids 19,39,...,179 re-emitted
    # Redelivered payloads are byte-identical — the at-least-once shape
    # dropDuplicatesWithinWatermark absorbs without a tiebreaker.
    assert all(len(set(v)) == 1 for v in dups.values())


def test_ohlc_stream_matches_batch(spark, wire_dir):
    """Streaming per-minute OHLC equals the batch recompute over the
    same wire data: arg-min/arg-max over the (timestamp, trade_id)
    total order make the bars micro-batch- and arrival-order-
    independent."""
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    got = sorted(
        map(tuple, _drain(windowed.ohlc_bars_stream(stream), "ohlc", mode="complete").collect()),
        key=str,
    )
    parsed = ingest.parse_wire(spark.read.text(path), value_col="value")
    ordkey = F.struct(F.col("timestamp"), F.col("trade_id"))
    want = sorted(
        map(
            tuple,
            parsed.groupBy(
                "instrument", F.window("timestamp", "1 minute").alias("w")
            )
            .agg(
                F.min_by("price", ordkey).alias("open"),
                F.max("price").alias("high"),
                F.min("price").alias("low"),
                F.max_by("price", ordkey).alias("close"),
                F.count(F.lit(1)).alias("n_trades"),
                F.sum(F.col("notional_value").cast("decimal(38,6)"))
                .cast("double")
                .alias("volume"),
            )
            .select(
                "instrument",
                F.col("w.start").alias("window_start"),
                "open",
                "high",
                "low",
                "close",
                "n_trades",
                "volume",
            )
            .collect(),
        ),
        key=str,
    )
    assert got == want
    assert len(got) > 1
    for r in got:
        lo, hi = r[4], r[3]
        assert lo <= r[2] <= hi and lo <= r[5] <= hi  # open/close within [low, high]


def test_stream_batch_vwap_equivalence(spark, wire_dir):
    """The VWAP stream twin emits exactly the bars the same function
    computes in batch over the same rows (pure commutative sums —
    arrival order and micro-batch boundaries cannot matter), and each
    bar's VWAP lies inside the OHLC twin's [low, high] for the same
    (instrument, window)."""
    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    got = _drain(
        windowed.vwap_bars_stream(stream, watermark=None),
        "vwap_stream",
        mode="complete",
    ).collect()
    batch = ingest.parse_wire(spark.read.text(path))
    want = windowed.vwap_bars_stream(batch, watermark=None).collect()
    assert sorted(map(tuple, got), key=str) == sorted(
        map(tuple, want), key=str
    )
    assert len(got) > 1
    bars = {
        (r["instrument"], r["window_start"]): r
        for r in windowed.ohlc_bars_stream(batch, watermark=None).collect()
    }
    for r in got:
        o = bars[(r["instrument"], r["window_start"])]
        assert r["n_trades"] == o["n_trades"]
        if r["total_qty"] > 0:
            # OHLC emits exact decimals, VWAP one double conversion:
            # compare in float with a 1-ulp-scale tolerance.
            assert (
                float(o["low"]) - 1e-9
                <= r["vwap"]
                <= float(o["high"]) + 1e-9
            )


def test_stream_batch_hll_registers_equivalence(spark, wire_dir):
    """The streaming HLL register table equals the batch register
    table over the same rows (max-merge is order/batch independent),
    matches a python HLL reference over the distinct trade_ids
    (including the redelivered duplicates, which must not move any
    register), and the state is bounded by HLL_M rows by
    construction."""
    import hashlib

    from real_time_streaming_system_with_apache_kafka_spark.operators import (
        sketches,
    )

    path, n_base, n_dup = wire_dir
    stream = ingest.read_trade_stream_from_json_dir(spark, path)
    got = sorted(
        map(
            tuple,
            _drain(
                windowed.hll_distinct_stream(stream),
                "hll_stream",
                mode="complete",
            ).collect(),
        )
    )
    batch = ingest.parse_wire(spark.read.text(path))
    want = sorted(
        map(tuple, windowed.hll_distinct_stream(batch).collect())
    )
    assert got == want
    assert len(got) <= sketches.HLL_M  # bounded state, forever
    # Python reference over distinct ids (dups must be absorbed).
    ids = {
        r["trade_id"] for r in batch.select("trade_id").collect()
    }
    assert len(ids) == n_base  # fixture redelivers, never invents
    M, RMAX = sketches.HLL_M, sketches.HLL_RHO_MAX
    regs: dict[int, int] = {}
    for i in ids:
        h = int(
            hashlib.md5(
                f"{sketches.HLL_TAG}#{i}".encode()
            ).hexdigest()[:8],
            16,
        )
        b, w = h % M, h // M
        rho = RMAX - w.bit_length() if w else RMAX
        regs[b] = max(regs.get(b, 0), rho)
    assert got == sorted(regs.items())
