"""The local twin of the driver's t2 correctness gate: every registered
query with an oracle must match DuckDB exactly at sf0.01, and no entry
may leave executor blocks pinned."""

from __future__ import annotations

import pytest

from real_time_streaming_system_with_apache_kafka_spark import registry
from tests.parity import assert_parity

_QUERIES = registry.all_queries()
_ORACLES = registry.all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    def pinned() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = pinned()
    df = _QUERIES[name](spark, sf_dir)
    assert_parity(df, _ORACLES[name], sf_dir, name=name)
    assert pinned() - before == set(), f"{name} left persistent RDDs"


def test_every_query_has_an_oracle():
    """244/244 since r8 (mm_feature_extract and the approx-sketch pair
    were the last rows-only entries) — a new query without a DuckDB
    twin is a regression, not a category."""
    assert sorted(set(_QUERIES) - set(_ORACLES)) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"minute_ts", "n_events", "sum_value"}
