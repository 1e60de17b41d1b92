"""Regression tests for the code-review findings: ANSI-mode poison
records, degenerate-document shingles, and dedup state eviction."""

from __future__ import annotations

import json

import duckdb
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions.ngrams import (
    regex_word_ngrams,
)
from real_time_streaming_system_with_apache_kafka_spark.operators import dedup
from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest, sinks


def test_poison_record_with_valid_key_is_skipped(spark, tmp_path):
    """A record with a good trade_id but garbage timestamp must be
    dropped (SNK3), not crash the stream via an ANSI cast error."""
    p = tmp_path / "poison"
    p.mkdir()
    good = {
        "trade_id": "good00000001", "quantity": 100.0, "price": 50.0,
        "notional_value": 5000.0, "status": "Settled", "stp_eligible": True,
        "timestamp": "2026-01-05T09:30:00.000000",
    }
    poison = dict(good, trade_id="poison000001", timestamp="not-a-timestamp")
    poison2 = dict(good, trade_id="poison000002", quantity="NaN-ish-garbage")
    (p / "batch.txt").write_text(
        "\n".join(json.dumps(m) for m in [good, poison, poison2]) + "\n"
    )
    stream = ingest.read_trade_stream_from_json_dir(spark, str(p))
    q = sinks.start_memory_sink(stream, "poison_test")
    q.processAllAvailable()  # would raise StreamingQueryException on crash
    q.stop()
    rows = spark.sql("SELECT trade_id FROM poison_test").collect()
    ids = {r["trade_id"] for r in rows}
    assert "good00000001" in ids
    assert "poison000001" not in ids  # bad timestamp -> record skipped
    # bad numeric but valid timestamp -> record survives with null field
    assert "poison000002" in ids


def test_degenerate_short_docs_shingle_parity(spark):
    """<3-word documents must produce the whole text as one shingle in
    BOTH engines (Spark used to throw under ANSI; the oracle used to
    drop the doc entirely). Checks ``regex_word_ngrams(text, 3)``, the
    path every shingle operator runs."""
    texts = ["one", "two words", "now three words here", ""]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in sdf.select(
            "doc_id",
            F.array_distinct(regex_word_ngrams(F.col("text"), 3)).alias("sh"),
        ).collect()
    }
    assert got[0] == ["one"]
    assert got[1] == ["two words"]
    assert got[2] == ["now three words", "three words here"]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS t(doc_id, text)"
    )
    want = {
        r[0]: sorted(set(r[1]))
        for r in con.execute(dedup._ORACLE_SHINGLES).fetchall()
    }
    con.close()
    assert got == want


def test_dedup_state_is_evicted_by_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark must evict key state once the
    watermark passes — unbounded state was the review's top finding."""
    wire = tmp_path / "stream"
    wire.mkdir()

    def msg(tid, ts):
        return json.dumps(
            {"trade_id": tid, "status": "Settled", "notional_value": 1.0,
             "timestamp": ts}
        )

    # Three batches, each far beyond the previous watermark window —
    # written sequentially so the file source can't reorder them.
    stream = ingest.read_trade_stream_from_json_dir(spark, str(wire))
    deduped = ingest.dedup_trades(stream, watermark="2 minutes")
    q = sinks.start_memory_sink(deduped, "evict_test")
    for i, hour in enumerate(["09", "11", "13"]):
        (wire / f"b{i}.txt").write_text(
            "\n".join(
                msg(f"t{hour}_{k}", f"2026-01-05T{hour}:00:0{k}.000000")
                for k in range(5)
            )
            + "\n"
        )
        q.processAllAvailable()
    progress = q.recentProgress
    q.stop()
    assert spark.sql("SELECT count(*) n FROM evict_test").collect()[0]["n"] == 15
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    # With eviction, state never holds all 15 keys at once; without it
    # (plain dropDuplicates) the last batch would report 15.
    assert state_rows, "no state metrics captured"
    assert max(state_rows) <= 10, state_rows


def test_ordkey_total_order_for_negative_timestamps(spark):
    """ADVICE r2: a zero-lpadded signed long breaks the string total
    order ('-5' sorts after '0'). The bias-shifted _ordkey must pick
    the true earliest/latest rows even when timestamps predate 1970
    and event ids are negative."""
    import datetime as dt

    from real_time_streaming_system_with_apache_kafka_spark.operators import timeseries

    rows = [
        # (event_id, ts, value): pre-1970 timestamps sort BEFORE 1970+.
        (-5, dt.datetime(1969, 12, 31, 23, 0, 0), 1.0),
        (-1, dt.datetime(1969, 12, 31, 23, 30, 0), 2.0),
        (7, dt.datetime(1970, 1, 1, 0, 30, 0), 3.0),
        # Tied timestamp: negative id must order before positive.
        (-9, dt.datetime(1970, 1, 1, 0, 45, 0), 4.0),
        (9, dt.datetime(1970, 1, 1, 0, 45, 0), 5.0),
    ]
    df = spark.createDataFrame(
        [(i, t, "x", v) for i, t, v in rows],
        "event_id long, ts timestamp, event_type string, value double",
    )
    bars = (
        df.groupBy("event_type")
        .agg(
            F.min_by("value", timeseries._ordkey()).alias("open"),
            F.max_by("value", timeseries._ordkey()).alias("close"),
        )
        .collect()[0]
    )
    assert bars.open == 1.0  # the 23:00 pre-epoch row, not a sign artifact
    assert bars.close == 5.0  # tied ts resolved by id: 9 after -9
