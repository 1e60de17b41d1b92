"""Shared pieces of the benchmark: the run context, span tracing, Spark
job counting, host-steal sampling and summary statistics.

Spans are recorded here, in the benchmark's own files, around calls into
the program's public functions; nothing inside the program is changed.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Registry entries timed by ``curation_batch``, one pass in this order:
# two that launch Spark jobs while building their DataFrame, the
# Arrow-UDF scored path, a control that does neither, and the reference
# dashboard's KPI panel, whose tiny plan over the trade generator is
# bound by plan build.
CURATION_ENTRIES = (
    "embed_pca_power",
    "quality_lm_surprise",
    "decontaminate_semantic",
    "q1_pricing_summary",
    "dash_kpis",
)

# The timed loop runs at least this many units (see ``closed_loop``).
MIN_UNITS = 2
# ``generator_build_s`` reports the median of this many builds.
GENERATOR_BUILD_REPS = 3


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str


class Tracer:
    """In-memory spans. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str = ""):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent, group))

    def add(self, name: str, start: float, end: float, parent: int | None, group: str) -> int:
        """Record a span measured elsewhere (a micro-batch rebuilt from its
        progress record); returns its id so children can point at it."""
        sid = next(self._ids)
        if self.enabled:
            self.spans.append(Span(sid, name, start, end, parent, group))
        return sid

    def self_times(self, group: str | None = None) -> dict[str, float]:
        """Per span name (of one group, or of all): total duration minus
        the part its child spans cover."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if group is None or s.group == group:
                out[s.name] += (s.end - s.start) - covered[s.id]
        return dict(out)

    def per_unit(self, groups: list[str], name: str) -> float:
        """Median over units (span groups) of one span name's self time."""
        return median(self.self_times(g).get(name, 0.0) for g in groups)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


def last_job_id(spark) -> int:
    """Highest Spark job id started so far (-1 before the first job).
    Job-start events reach the status tracker through the asynchronous
    listener bus, so drain the bus before reading it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])


@contextlib.contextmanager
def job_delta(spark, out: dict, key: str):
    """Count the Spark jobs started inside the block into ``out[key]``."""
    j0 = last_job_id(spark)
    try:
        yield
    finally:
        out[key] = out.get(key, 0) + last_job_id(spark) - j0


def proc_stat() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(a: list[int], b: list[int]) -> float:
    """Host steal as a percentage of all jiffies between two samples."""
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / (sum(d) or 1)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def fitted_growth(xs: list[tuple[float, float]]) -> float:
    """Least-squares line of ``y`` on ``x`` over the ``(x, y)`` samples:
    the fitted ``y`` at the largest ``x`` over the fitted ``y`` at the
    smallest (1.0 when ``y`` does not grow with ``x``)."""
    x, y = zip(*xs)
    slope, intercept = statistics.linear_regression(x, y)
    return (slope * max(x) + intercept) / (slope * min(x) + intercept)


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str
    trace: bool
    t0: float  # perf_counter() when the run started
    cpu0: float  # tree_cpu_s() when the run started
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one correctness check; a failed check is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")

    def setup_done(self) -> tuple[float, float]:
        """Wall and CPU seconds (``tree_cpu_s``) from the start of the
        run until now."""
        return time.perf_counter() - self.t0, tree_cpu_s() - self.cpu0


@dataclass
class Result:
    end_to_end: dict[str, float]
    layers: dict[str, float]
    record: dict


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, Python workers), including children they
    have reaped. Unlike wall time it does not count time spent waiting
    for a CPU another tenant of the host holds."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process ended while we listed
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Unit:
    payload: object
    wall_s: float
    cpu_s: float
    traced: bool


def closed_loop(ctx: Context, unit, after=None) -> list[Unit]:
    """Call ``unit(i)`` back to back, one client, until ``ctx.seconds``
    have passed and at least ``MIN_UNITS`` units ran, timing each call
    in wall and CPU seconds; ``after(payload)``, if given, runs between
    units outside the timed region. A floor on the count keeps the measured
    units at the same positions in every run: the JVM still speeds up
    from one unit to the next, so a run that fitted fewer units would
    otherwise report earlier, slower ones. A traced run alternates
    untraced and traced units, untraced first, until at least one of
    each ran, so the tracing overhead is measured inside the run."""
    units: list[Unit] = []
    deadline = time.perf_counter() + ctx.seconds
    floor = 1 if ctx.trace else MIN_UNITS
    i = 0
    while True:
        ctx.tracer.enabled = ctx.trace and i % 2 == 1
        c0, t0 = tree_cpu_s(), time.perf_counter()
        payload = unit(i)
        wall = time.perf_counter() - t0
        units.append(Unit(payload, wall, tree_cpu_s() - c0, ctx.tracer.enabled))
        if after:
            after(payload)
        i += 1
        counted = sum(u.traced == ctx.trace for u in units)
        if time.perf_counter() >= deadline and counted >= floor:
            break
    ctx.tracer.enabled = ctx.trace
    return units


def summarize(ctx: Context, setup: tuple[float, float], units: list[Unit], items) -> tuple[dict, dict]:
    """End-to-end metrics over the timed units (the traced ones in a
    traced run) and the run record; ``items(payload)`` counts a unit's
    completed items. The gated metrics are CPU seconds: on a shared host
    wall time moves with the other tenants' load, so the wall-clock
    figures, and the parallelism (CPU over wall seconds) that a lost core
    or an added wait would lower, are reported but not gated."""
    timed = [u for u in units if u.traced == ctx.trace]
    n_items = sum(items(u.payload) for u in timed)
    end_to_end = {"setup_s": setup[1], "unit_cpu_s": median(u.cpu_s for u in timed)}
    record = {
        "units": len(timed),
        "items": n_items,
        "setup_wall_s": setup[0],
        "unit_wall_p50_s": median(u.wall_s for u in timed),
        "unit_wall_s_each": [round(u.wall_s, 3) for u in timed],
        "unit_cpu_s_each": [round(u.cpu_s, 2) for u in timed],
        "unit_parallelism": median(u.cpu_s / u.wall_s for u in timed),
        "items_per_s": n_items / sum(u.wall_s for u in timed),
        "items_per_cpu_s": n_items / sum(u.cpu_s for u in timed),
    }
    if ctx.trace:
        plain = [u for u in units if not u.traced]
        for kind in ("wall", "cpu"):
            t = median(getattr(u, f"{kind}_s") for u in timed)
            p = median(getattr(u, f"{kind}_s") for u in plain)
            record[f"trace_overhead_{kind}_s"] = {"traced": t, "untraced": p, "difference": t - p}
    return end_to_end, record


def generator_build_s(ctx: Context) -> float:
    """Median wall time of ``generator.trades(spark, 20_000)``: building
    the dashboard's trade frame, no action."""
    from real_time_streaming_system_with_apache_kafka_spark import generator

    times = []
    for _ in range(GENERATOR_BUILD_REPS):
        t = time.perf_counter()
        with ctx.tracer.span("generator.trades", "generator"):
            generator.trades(ctx.spark, 20_000)
        times.append(time.perf_counter() - t)
    return median(times)
