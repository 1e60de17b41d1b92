"""Python workers never need the package: the embedding kernels reach
them pickled by value (``functions/kernels.py``).

An external driver may put this checkout on its own ``sys.path`` only,
as ``__spark_entry__.py`` does, so its Python workers cannot import the
package. Under pytest the workers start in the repo root and always
can, so the check runs in a child process whose working directory and
``PYTHONPATH`` leave the repo out; the child first proves that a worker
cannot find the package, then checks each entry against its oracle.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRIES = [
    "decontaminate_semantic",
    "dedup_embedding_cosine",
    "dedup_embedding_multiprobe",
    "sim_knn_join",
    "sim_pq_topk",
    "sim_range_search",
]

_CHILD = r"""
import importlib.util
import sys

sys.path.insert(0, sys.argv[1])

from pyspark.sql import SparkSession

from real_time_streaming_system_with_apache_kafka_spark import registry
from tests.parity import assert_parity

sf_dir, names = sys.argv[2], sys.argv[3].split(",")
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
pkg = "real_time_streaming_system_with_apache_kafka_spark"
found = (
    spark.sparkContext.parallelize([pkg], 1)
    .map(lambda p: importlib.util.find_spec(p) is not None)
    .collect()
)
if found != [False]:
    raise RuntimeError("a worker can import the package; the check is void")
for name in names:
    df = registry.all_queries()[name](spark, sf_dir)
    assert_parity(df, registry.all_oracles()[name], sf_dir, name=name)
    print("OK", name, flush=True)
spark.stop()
"""


def test_kernels_run_without_the_package_on_workers(sf_smoke, tmp_path):
    env = dict(os.environ)
    path = [
        p
        for p in env.pop("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    if path:
        env["PYTHONPATH"] = os.pathsep.join(path)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, sf_smoke, ",".join(ENTRIES)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-5000:]
    ok = [line.split()[1] for line in out.stdout.splitlines() if line.startswith("OK ")]
    assert ok == ENTRIES
