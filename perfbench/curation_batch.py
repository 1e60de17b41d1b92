"""Workload ``curation_batch``: a fixed list of LLM-data-pipeline registry
entries (``harness.CURATION_ENTRIES``) over seeded star-schema tables.

One pass runs every entry in list order as build -> noop execute ->
``session.sweep_persisted``. The list mixes entries that launch Spark
jobs while building, the Arrow-UDF scored path, a control that does
neither, and a dashboard panel whose cost is plan build.

Set-up: session start, table generation, and one cold pass whose
results are compared with their DuckDB oracles by the repository's
parity gate, ``tests.parity.assert_parity`` (the correctness gate).
Unit: one pass. Items: registry entries.
"""

from __future__ import annotations

import contextlib
import os
import traceback

import data
from harness import CURATION_ENTRIES, Context, Result, closed_loop, generator_build_s, job_delta, median, summarize
from tests.parity import assert_parity


def run(ctx: Context) -> Result:
    from real_time_streaming_system_with_apache_kafka_spark import registry, session

    spark, tracer = ctx.spark, ctx.tracer
    tables = os.path.join(ctx.work_dir, "tables")
    data.write_tables(tables, ctx.seed)

    queries, oracles = registry.all_queries(), registry.all_oracles()
    jobs: dict[str, int] = {}

    def one_pass(i: int) -> tuple[str, int, int]:
        group = f"pass-{i}"
        done = swept = 0
        with tracer.span("curation.pass", group):
            for q in CURATION_ENTRIES:
                ctx.attempted += 1
                try:
                    counting = job_delta(spark, jobs, f"{group}/{q}") if tracer.enabled else contextlib.nullcontext()
                    with counting:
                        with tracer.span(f"{q}.build", group):
                            df = queries[q](spark, tables)
                    with tracer.span(f"{q}.exec", group):
                        df.write.format("noop").mode("overwrite").save()
                    with tracer.span("sweep", group):
                        swept += session.sweep_persisted(spark)
                    done += 1
                except Exception:  # noqa: BLE001 — count it and run the next entry
                    traceback.print_exc()
                    ctx.failed += 1
        return group, done, swept

    with tracer.span("curation.pass", "cold"):
        for q in CURATION_ENTRIES:
            err = None
            try:
                assert_parity(queries[q](spark, tables), oracles[q], tables, name=q)
            except AssertionError as e:
                err = str(e)
            except Exception as e:  # noqa: BLE001 — an entry that raises fails the gate
                traceback.print_exc()
                err = f"{q}: {e!r}"
            session.sweep_persisted(spark)
            ctx.check(err is None, err)
    setup = ctx.setup_done()

    units = closed_loop(ctx, one_pass)
    end_to_end, record = summarize(ctx, setup, units, lambda p: p[1])
    layers: dict[str, float] = {}
    if ctx.trace:
        traced = [u.payload for u in units if u.traced]
        groups = [g for g, _, _ in traced]
        for q in CURATION_ENTRIES:
            layers[f"{q}.build_s"] = tracer.per_unit(groups, f"{q}.build")
            layers[f"{q}.exec_s"] = tracer.per_unit(groups, f"{q}.exec")
            layers[f"{q}.build_jobs"] = median(jobs[f"{g}/{q}"] for g in groups)
        layers["sweep.s"] = tracer.per_unit(groups, "sweep")
        layers["sweep.rdds"] = median(swept for _, _, swept in traced)
        layers["generator.build_s"] = generator_build_s(ctx)
    return Result(end_to_end, layers, record)
