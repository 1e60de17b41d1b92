"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests are fast; ``test_tables_match_the_fixture`` is skipped
where the repository's sf0.01 correctness tables are absent.
``test_counts_repeat`` runs every workload
twice, traced, with the same seed (a few minutes) and requires the
count metrics to be equal: later performance claims may rest only on
counts that repeat.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import data  # noqa: E402
import harness  # noqa: E402
from tests.conftest import SF_CORRECT  # noqa: E402

COUNTS = {
    "curation_batch": [f"{q}.build_jobs" for q in harness.CURATION_ENTRIES] + ["sweep.rdds"],
    "trade_ingest": [
        "sink.rows_written",
        "ingest.state_rows_max",
        "ingest.late_dropped",
        "ingest.malformed_skipped",
    ],
}


def test_tables_repeat_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    data.write_tables(a, 7)
    data.write_tables(b, 7)
    data.write_tables(c, 8)
    for name in sorted(os.listdir(a)):
        same = open(os.path.join(a, name), "rb").read() == open(os.path.join(b, name), "rb").read()
        assert same, name
    assert open(os.path.join(a, "documents.parquet"), "rb").read() != open(
        os.path.join(c, "documents.parquet"), "rb"
    ).read()


def test_fitted_growth():
    assert harness.fitted_growth([(1, 2.0), (2, 3.0), (3, 4.0)]) == pytest.approx(2.0)
    assert harness.fitted_growth([(1, 5.0), (2, 5.0), (3, 5.0)]) == pytest.approx(1.0)


def _words(table: pa.Table) -> set[str]:
    return {w for text in table["text"].to_pylist() for w in text.split()}


@pytest.mark.skipif(not os.path.isdir(SF_CORRECT), reason="sf0.01 correctness tables absent")
def test_tables_match_the_fixture(tmp_path):
    """The seeded tables have the fixture's parquet schemas and row
    counts, its category domains (string columns of at most 64 values)
    and document vocabulary, and numeric 1st, 50th and 99th percentiles
    close to the fixture's: within 5% of its 1st-99th percentile span,
    widened to 3/sqrt(rows) of the span for tables under 3,600 rows,
    whose sample quantiles vary more from seed to seed."""
    data.write_tables(str(tmp_path), 1)
    for name in sorted(os.listdir(SF_CORRECT)):
        ours_file = pq.ParquetFile(tmp_path / name)
        theirs_file = pq.ParquetFile(os.path.join(SF_CORRECT, name))
        assert ours_file.schema.equals(theirs_file.schema), name
        ours, theirs = ours_file.read(), theirs_file.read()
        assert ours.num_rows == theirs.num_rows, name
        for col in theirs.column_names:
            a, b = ours[col], theirs[col]
            if pa.types.is_string(b.type):
                domain = set(b.to_pylist())
                if len(domain) <= 64:
                    assert set(a.to_pylist()) == domain, (name, col)
                continue
            if pa.types.is_list(b.type):
                a, b = pc.list_value_length(a), pc.list_value_length(b)
            x, y = (np.asarray(c.cast(pa.int64()) if pa.types.is_timestamp(c.type) else c, float) for c in (a, b))
            qs = (1, 50, 99)
            lo, hi = np.percentile(y, (1, 99))
            tol = max(0.05, 3 / theirs.num_rows**0.5) * (hi - lo) + 1e-9
            assert np.allclose(np.percentile(x, qs), np.percentile(y, qs), rtol=0, atol=tol), (name, col)
    assert _words(pq.read_table(tmp_path / "documents.parquet")) == _words(
        pq.read_table(os.path.join(SF_CORRECT, "documents.parquet"))
    )


def test_self_time_subtracts_children():
    t = harness.Tracer(True)
    root = t.add("outer", 0.0, 10.0, None, "g")
    t.add("inner", 1.0, 4.0, root, "g")
    t.add("inner", 5.0, 6.0, root, "g")
    t.add("outer", 0.0, 2.0, None, "h")
    assert t.self_times("g") == {"outer": 6.0, "inner": 4.0}
    assert t.self_times() == {"outer": 8.0, "inner": 4.0}
    assert t.per_unit(["g", "h"], "outer") == 4.0


def _traced_counts(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: result["metrics"][k]["value"] for k in COUNTS[workload]}


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_counts_repeat(workload):
    assert _traced_counts(workload) == _traced_counts(workload)
