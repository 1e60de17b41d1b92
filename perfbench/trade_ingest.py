"""Workload ``trade_ingest``: the reference's consumer path over a backlog.

The backlog is ``BACKLOG_TRADES`` seeded trades as wire-JSON lines in
event-time order, one file per slice of event time, with ~5% exact
redeliveries (a line repeated right after itself) and
``MALFORMED_PER_FILE`` malformed lines per file. A drain runs
``ingest.read_trade_stream_from_json_dir`` (``FILES_PER_TRIGGER`` files
per micro-batch) -> ``ingest.dedup_trades`` ->
``foreachBatch(sinks.keyed_upsert_foreach_batch(sink, ["trade_id"]))``
with ``availableNow``, into a fresh checkpoint and sink.

Set-up: session start, backlog generation, and one cold drain.
Unit: one drain. Items: wire lines. Every drain's sink is checked
outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import random
import shutil
import time

import duckdb

from harness import Context, Result, closed_loop, fitted_growth, generator_build_s, median, summarize

BACKLOG_TRADES = 16_000
FILES = 8
FILES_PER_TRIGGER = 2
DUP_SHARE = 0.05
MALFORMED_PER_FILE = 1
MALFORMED = (
    '{"trade_id": "trunc',
    '{"asset_class": "FX", "side": "Buy"}',
    '{"trade_id": "bad-ts-0001", "timestamp": "not a time"}',
)


def write_backlog(ctx: Context, out_dir: str) -> dict:
    """Generate the backlog with the program's generator and wire encoder,
    then add redeliveries and malformed lines. Files are named and
    time-stamped in event-time order, which the file source follows."""
    from real_time_streaming_system_with_apache_kafka_spark import generator
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

    spark = ctx.spark
    staging = out_dir + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    t = time.perf_counter()
    # range() partitions hold contiguous ascending ids, and event time
    # rises with id, so part file i is the i-th slice of event time.
    ids = spark.range(0, BACKLOG_TRADES, 1, FILES)
    ingest.to_wire_json(generator.decorate_ids(ids, seed=ctx.seed)).write.text(staging)
    gen_s = time.perf_counter() - t

    rng = random.Random(ctx.seed)
    os.makedirs(out_dir)
    lines, dups = [], 0
    mtime = time.time() - FILES
    for i, part in enumerate(sorted(glob.glob(os.path.join(staging, "part-*")))):
        with open(part) as fh:
            rows = fh.read().splitlines()
        out = []
        for row in rows:
            out.append(row)
            if rng.random() < DUP_SHARE:
                out.append(row)
                dups += 1
        for k in range(MALFORMED_PER_FILE):
            out.insert(rng.randrange(len(out) + 1), MALFORMED[(i + k) % len(MALFORMED)])
        path = os.path.join(out_dir, f"trades-{i:04d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(out) + "\n")
        os.utime(path, (mtime + i, mtime + i))
        lines.append(len(out))
    shutil.rmtree(staging)
    return {"gen_s": gen_s, "lines": lines, "dups": dups}


def expected_ids(seed: int) -> set[str]:
    """The generator's trade_ids, md5("<seed>#<id>")[:12], computed here
    independently of Spark."""
    return {hashlib.md5(f"{seed}#{i}".encode()).hexdigest()[:12] for i in range(BACKLOG_TRADES)}


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def run(ctx: Context) -> Result:
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest, sinks

    spark, tracer = ctx.spark, ctx.tracer
    backlog = os.path.join(ctx.work_dir, "backlog")
    info = write_backlog(ctx, backlog)
    gen_s = info["gen_s"]
    clock = time.time() - time.perf_counter()  # wall clock -> perf_counter
    want = expected_ids(ctx.seed)

    def drain(i: int) -> dict:
        group = f"drain-{i}"
        ckpt = os.path.join(ctx.work_dir, f"ckpt-{i}")
        sink = os.path.join(ctx.work_dir, f"sink-{i}")
        upsert = sinks.keyed_upsert_foreach_batch(sink, ["trade_id"])
        calls: dict[int, tuple[float, float]] = {}

        def timed_upsert(batch, epoch_id):
            t = time.perf_counter()
            upsert(batch, epoch_id)
            calls[epoch_id] = (t, time.perf_counter())

        t0 = time.perf_counter()
        stream = ingest.dedup_trades(
            ingest.read_trade_stream_from_json_dir(spark, backlog, FILES_PER_TRIGGER)
        )
        q = (
            stream.writeStream.foreachBatch(timed_upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        t1 = time.perf_counter()
        progress = q.recentProgress  # dicts, oldest first
        batches = [p for p in progress if p["numInputRows"] > 0]
        ctx.attempted += len(batches)

        drain_id = tracer.add("ingest.drain", t0, t1, None, group)
        for p in progress:
            start = _epoch_s(p["timestamp"]) - clock
            bid = tracer.add(
                "ingest.batch", start, start + p["durationMs"]["triggerExecution"] / 1e3, drain_id, group
            )
            if p["batchId"] in calls:
                tracer.add("sinks.upsert", *calls[p["batchId"]], bid, group)

        upserts = {p["batchId"]: calls[p["batchId"]][1] - calls[p["batchId"]][0] for p in batches}
        return {"group": group, "ckpt": ckpt, "sink": sink, "batches": batches, "upserts": upserts}

    def verify(d: dict) -> None:
        """The drain's correctness gate, run outside the timed region."""
        group, batches = d["group"], d["batches"]
        ops = [p["stateOperators"][0] for p in batches]
        late = sum(o["numRowsDroppedByWatermark"] for o in ops)
        to_dedup = sum(
            o["numRowsUpdated"] + o["customMetrics"].get("numDroppedDuplicateRows", 0) for o in ops
        ) + late
        malformed = sum(p["numInputRows"] for p in batches) - to_dedup
        con = duckdb.connect()
        got = con.execute(f"SELECT trade_id FROM read_parquet('{d['sink']}/*.parquet')").fetchall()
        con.close()
        ids = [r[0] for r in got]
        ctx.check(set(ids) == want, f"{group}: sink trade_ids differ from the generated ids")
        ctx.check(len(ids) == len(set(ids)), f"{group}: {len(ids) - len(set(ids))} duplicate rows in sink")
        ctx.check(late == 0, f"{group}: {late} rows dropped as late")
        injected = FILES * MALFORMED_PER_FILE
        ctx.check(malformed == injected, f"{group}: {malformed} skipped, {injected} malformed")
        shutil.rmtree(d["ckpt"])
        shutil.rmtree(d["sink"])
        d.update(late=late, malformed=malformed, rows_written=len(ids))

    verify(drain(-1))
    setup = ctx.setup_done()

    lines = sum(info["lines"])
    units = closed_loop(ctx, drain, after=verify)
    end_to_end, record = summarize(ctx, setup, units, lambda d: lines)
    timed = [u.payload for u in units if u.traced == ctx.trace]
    record["batch_p50_s"] = median(
        p["durationMs"]["triggerExecution"] / 1e3 for d in timed for p in d["batches"]
    )
    record["batches"] = sum(len(d["batches"]) for d in timed)
    record["backlog"] = {"lines": lines, "dups": info["dups"], "malformed": FILES * MALFORMED_PER_FILE}
    record["backlog_gen_s"] = gen_s
    layers: dict[str, float] = {}
    if ctx.trace:
        batches = [p for d in timed for p in d["batches"]]

        def ms(*keys):
            return median(sum(p["durationMs"].get(k, 0) for k in keys) for p in batches)

        def state(*keys):
            return median(sum(p["stateOperators"][0][k] for k in keys) for p in batches)

        # Upsert growth: batch 0 finds no target and skips the re-read,
        # so it is left out; every later batch re-reads a target one
        # batch larger. Tracing adds nothing inside a drain's upsert
        # calls, so the drains of both kinds are pooled.
        grown = [(b, s) for u in units for b, s in u.payload["upserts"].items() if b > 0]
        layers = {
            "generator.rows_per_s": BACKLOG_TRADES / gen_s,
            "generator.build_s": generator_build_s(ctx),
            "ingest.get_batch_ms": ms("latestOffset", "getBatch"),
            "ingest.planning_ms": ms("queryPlanning"),
            "ingest.add_batch_ms": ms("addBatch"),
            "ingest.commit_ms": ms("walCommit", "commitOffsets"),
            "ingest.state_rows_max": max(p["stateOperators"][0]["numRowsTotal"] for p in batches),
            "ingest.state_ms": state("allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs"),
            "ingest.late_dropped": max(d["late"] for d in timed),
            "ingest.malformed_skipped": median(d["malformed"] for d in timed),
            "sink.upsert_s": median(u for d in timed for u in d["upserts"].values()),
            "sink.upsert_growth": fitted_growth(grown),
            "sink.rows_written": median(d["rows_written"] for d in timed),
        }
        record["upsert_growth_samples"] = len(grown)
    return Result(end_to_end, layers, record)
