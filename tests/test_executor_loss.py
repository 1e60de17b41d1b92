"""Losing an executor: entries that truncate lineage with checkpoints
must still collect and match their oracles after one of two executors
dies, because checkpoint files outlive the executor that wrote them.

The session-scoped ``spark`` fixture owns this process's only
SparkContext, so the check runs in a child process on
``local-cluster[2,1,1024]``: two executor JVMs on this host. Eight
shuffle partitions with AQE coalescing off spread every stage over
both executors, so the kill always takes part of each result with it.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRIES = ["dedup_cc_survivors", "graph_pagerank_dupgraph", "stats_robust_mad"]

_CHILD = r"""
import sys
import time

from pyspark.sql import SparkSession

from real_time_streaming_system_with_apache_kafka_spark import registry
from tests.parity import assert_parity

sf_dir, names = sys.argv[1], sys.argv[2].split(",")
spark = (
    SparkSession.builder.master("local-cluster[2,1,1024]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
jsc = spark.sparkContext._jsc.sc()


def executors() -> list[str]:
    ids = jsc.getExecutorIds().mkString(",")
    return ids.split(",") if ids else []


def wait_for(n: int) -> None:
    deadline = time.monotonic() + 120
    while len(executors()) != n:
        if time.monotonic() > deadline:
            raise TimeoutError(f"expected {n} executors, have {executors()}")
        time.sleep(0.5)


wait_for(2)
frames = {name: registry.all_queries()[name](spark, sf_dir) for name in names}
victim = executors()[0]
if not jsc.killExecutor(victim):
    raise RuntimeError(f"kill of executor {victim} was refused")
wait_for(1)
for name, df in frames.items():
    assert_parity(df, registry.all_oracles()[name], sf_dir, name=name)
    print("OK", name, flush=True)
spark.stop()
"""


def test_entries_survive_executor_loss(sf_dir):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir, ",".join(ENTRIES)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-5000:]
    ok = [line.split()[1] for line in out.stdout.splitlines() if line.startswith("OK ")]
    assert ok == ENTRIES
