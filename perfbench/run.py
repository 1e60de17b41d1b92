"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Starts one local
Spark session on every CPU the process may use, builds the workload's
inputs from ``--seed``, warms up, runs the workload as a closed loop
with one client for ``--seconds`` and at least two units, checks the
outputs against their oracles, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, read from spans recorded around the calls into each module (the
spans are written to ``.perfbench/<workload>/spans.jsonl``). The line
before it is a JSON run record: cpus, driver heap, host steal, sample
counts, and in traced runs each layer's self time and the tracing
overhead.

Everything the run writes (inputs, Spark scratch, checkpoints, sinks,
spans) stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "real_time_streaming_system_with_apache_kafka_spark"
WORKLOADS = ("trade_ingest", "curation_batch")


def _units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB (session.py's default
    heap, 24g, is larger than some hosts' RAM)."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(4096, total_mb // 4)}m"


def _pin_environment(work_dir: str, cpus: int) -> None:
    """Set, before the JVM starts, every knob the run depends on."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Start every JIT compiler thread with the JVM instead of letting
    # HotSpot add them as its compile queue grows, so how fast the cold
    # unit's compile backlog drains does not vary from run to run. On a
    # shared 4-vCPU host, over six seeds, it cut the quartile spread of
    # trade_ingest's unit CPU from ~0.07 to ~0.02 of the median.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — kill and reap whatever is left
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ not found beside perfbench/; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness

    work_dir = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    cpus = len(os.sched_getaffinity(0))
    _pin_environment(work_dir, cpus)

    stat0 = harness.proc_stat()
    tracer = harness.Tracer(bool(args.trace))
    t0, cpu0 = time.perf_counter(), harness.tree_cpu_s()
    with tracer.span("session.start"):
        from real_time_streaming_system_with_apache_kafka_spark import session

        spark = session.get_session("perfbench", cpus=str(cpus))
        spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0

    ctx = harness.Context(spark, args.seed, args.seconds, tracer, work_dir, bool(args.trace), t0, cpu0)
    try:
        workload = importlib.import_module(args.workload)
        result = workload.run(ctx)
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        _stop(spark)
        return 1
    _stop(spark)

    if args.trace:
        units = _units("per_layer")
        layers = {k: 0 for k in units}
        layers.update(result.layers)
        layers["session.start_s"] = start_s
        layers["unit.wall_s"] = result.record["unit_wall_p50_s"]
        layers["unit.parallelism"] = result.record["unit_parallelism"]
        tracer.write(os.path.join(work_dir, "spans.jsonl"))
    else:
        units = _units("end_to_end")
        layers = result.end_to_end
    # A metric missing from BENCHMARK.json raises here rather than
    # printing a result the spec does not describe.
    metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "steal_pct": round(harness.steal_pct(stat0, harness.proc_stat()), 3),
        "session_start_s": start_s,
        **result.record,
        "notes": ctx.notes,
    }
    if args.trace:
        record["traced_end_to_end"] = result.end_to_end
        record["self_s"] = {k: round(v, 4) for k, v in sorted(tracer.self_times().items())}
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
