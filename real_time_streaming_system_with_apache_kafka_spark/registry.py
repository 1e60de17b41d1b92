"""Central query registry.

Each operator module exports ``QUERIES`` (name -> callable(spark, sf_dir)
-> DataFrame) and ``ORACLES`` (name -> DuckDB SQL twin, omitted for
non-SQL-expressible operators). ``__spark_entry__.py`` re-exports the
merged registry; the names are the SURVEY.md §2 operator IDs.
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The external correctness harness certifies the FIRST 50 ``queries()``
# entries (dict insertion order): this priority block, then every other
# entry in module order. The three §2 sentinels stay pinned at the top,
# so the relational core is certified every time. Entries outside the
# window stay covered by the local parity suite
# (tests/test_oracle_parity.py). Run the representation audit
# (tools/canon_check.py) before rotating any entry into the window.
_PRIORITY: list[str] = [
    # §2 sentinels — pinned every round.
    "w1_minute_activity",
    "q0_snapshot_topk",
    "j1_star_join_revenue",
    # Plans changed this round (r10 optimization rewrites).
    "embed_pca_power",
    "decontaminate_semantic",
    "dedup_winnowing",
    # r4-signed cohort, part 2 of 2: TPC-H q11-q22.
    "q11_important_stock",
    "q12_priority_lines",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_qty_revenue",
    "q18_large_volume_customer",
    "q19_disjunctive_revenue",
    "q20_excess_suppliers",
    "q21_sole_returning_supplier",
    "q22_global_sales_opportunity",
    # r4-signed cohort: datamix / skew / layout / extras remainder.
    "agg_grouping_sets",
    "agg_mode_exact",
    "agg_quartiles_exact",
    "agg_salted_skew",
    "agg_stats_moments",
    "dedup_cross_source",
    "dedup_incremental_ingest",
    "embed_centroid_stats",
    "f_regexp_funcs",
    "f_variant_funcs",
    "feature_quantile_bucketize",
    "j7_full_outer_reconcile",
    "j8_bucketed_join",
    "join_salted_skew",
    "layout_zorder_events",
    "mix_domain_weights",
    "mix_epoch_repeats",
    "mix_temperature_weights",
    "reconcile_checksum",
    "sample_token_budget",
    "sql_api_snapshot",
    "w11_minute_distinct_users",
    "w9_cascaded_rollup",
    "wf_first_last_nth",
    "wf_share_of_total",
    # Stalest after the r4 cohort: first 7 of the r5-signed batch.
    "agg_bitmap_distinct",
    "customer_rfm_segments",
    "dedup_lines_c4",
    "dedup_lsh_calibration",
    "dedup_passage",
    "dedup_prefix",
    "dedup_quality_survivor",
]

_MODULES: list[str] = [
    "real_time_streaming_system_with_apache_kafka_spark.operators.windows",
    "real_time_streaming_system_with_apache_kafka_spark.operators.relational",
    "real_time_streaming_system_with_apache_kafka_spark.operators.aggregates",
    "real_time_streaming_system_with_apache_kafka_spark.operators.joins",
    "real_time_streaming_system_with_apache_kafka_spark.operators.scalars",
    "real_time_streaming_system_with_apache_kafka_spark.generator",
    "real_time_streaming_system_with_apache_kafka_spark.operators.dedup",
    "real_time_streaming_system_with_apache_kafka_spark.operators.text",
    "real_time_streaming_system_with_apache_kafka_spark.operators.similarity",
    "real_time_streaming_system_with_apache_kafka_spark.operators.multimodal",
    "real_time_streaming_system_with_apache_kafka_spark.operators.analytics",
    "real_time_streaming_system_with_apache_kafka_spark.operators.tpch",
    "real_time_streaming_system_with_apache_kafka_spark.operators.tpch_full",
    "real_time_streaming_system_with_apache_kafka_spark.operators.dashboard",
    "real_time_streaming_system_with_apache_kafka_spark.operators.extras",
    "real_time_streaming_system_with_apache_kafka_spark.operators.timeseries",
    "real_time_streaming_system_with_apache_kafka_spark.operators.sampling",
    "real_time_streaming_system_with_apache_kafka_spark.operators.pipeline_analytics",
    "real_time_streaming_system_with_apache_kafka_spark.operators.curation",
    "real_time_streaming_system_with_apache_kafka_spark.operators.skew",
    "real_time_streaming_system_with_apache_kafka_spark.operators.datamix",
    "real_time_streaming_system_with_apache_kafka_spark.operators.layout",
    "real_time_streaming_system_with_apache_kafka_spark.operators.retrieval",
    "real_time_streaming_system_with_apache_kafka_spark.operators.sketches",
]


def _collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    import importlib

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(mod_name)
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query id {name!r} in {mod_name}")
            queries[name] = fn
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name in oracles:
                raise ValueError(f"duplicate oracle id {name!r} in {mod_name}")
            oracles[name] = textwrap.dedent(sql).strip()
    unknown = set(oracles) - set(queries)
    if unknown:
        raise ValueError(f"oracles without queries: {sorted(unknown)}")
    missing = [k for k in _PRIORITY if k not in queries]
    if missing:
        raise ValueError(f"priority keys without queries: {missing}")
    if len(set(_PRIORITY)) != len(_PRIORITY):
        raise ValueError("duplicate keys in _PRIORITY")
    ordered = {k: queries[k] for k in _PRIORITY}
    ordered.update((k, v) for k, v in queries.items() if k not in ordered)
    return ordered, oracles


def all_queries() -> dict[str, QueryFn]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
