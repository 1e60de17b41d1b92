"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect cost). The headline set spans every subsystem:
scan/top-K, aggregation, star join, windows, as-of, streaming-ingest
expressions in batch form, and the LLM-pipeline extensions.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_streaming_system_with_apache_kafka_spark import registry
from real_time_streaming_system_with_apache_kafka_spark.session import get_session

# How many of the slowest queries the compact stdout line carries;
# sized so the line stays well under the harness's ~2000-char tail
# capture (the full table goes to .bench/BENCH_LOCAL.json).
_COMPACT_TOP_QUERIES = 12

HEADLINE = [
    "w1_minute_activity",
    "q0_snapshot_topk",
    "a3_conditional_counts",
    "agg_rollup",
    "j1_star_join_revenue",
    "j5_topk_per_group",
    "q1_pricing_summary",
    "wf_lag_lead_running",
    "asof_join_events",
    "sessionize_events",
    "w4_wire_roundtrip_dedup",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "sim_bruteforce_topk",
    "text_stats_quality",
    "mm_decode_metadata",
    # Round-2 additions: track drift in the newer operators.
    "q3_shipping_priority",
    "agg_grouping_sets",
    "wf_rank_family",
    "text_langid",
    # Round-2 TPC-H batch: the scan-only and agg-then-join extremes.
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    # Composed LLM-pipeline flagship: gates -> fingerprint dedup.
    "corpus_curation_pipeline",
    # Round-2 continuation: full TPC-H batch + event/corpus analytics.
    "q7_volume_shipping",
    "q13_customer_distribution",
    "funnel_conversion",
    "tokens_top_terms",
    # Curation + time-series batch: benchmark decontamination over the
    # n-gram inverted index, and the hourly OHLC market rollup.
    "decontaminate_holdout",
    "ts_ohlc_bars",
    # Round-3 additions: skew-resilient shapes, the deterministic
    # global training-order shuffle, the vocabulary inverted index,
    # and the LSH ANN scale path (fully oracled since r3).
    "agg_salted_skew",
    "join_salted_skew",
    "shuffle_global_order",
    "text_inverted_index",
    "sim_lsh_topk",
    # Round-3 continuation: Gopher-rule quality gates (scan-only) and
    # the per-domain cap (map-side WindowGroupLimit prune).
    "quality_gopher_gates",
    "sample_domain_cap",
    # Cascaded continuous-aggregate rollup (mergeability flagship).
    "w9_cascaded_rollup",
    # Iterative graph op: PageRank over the LSH dup-candidate graph
    # (Pregel-on-DataFrames, quantized contributions, unrolled oracle).
    "graph_pagerank_dupgraph",
    # Two-stage dedup flagship: LSH candidates -> exact-Jaccard verify.
    "dedup_lsh_verified",
    # Late round-3: corpus-wide KNN self-join (blocked-GEMM argmax),
    # asymmetric containment over LSH candidates, passage-level dedup,
    # the RAG chunker (generate-only plan), the broadcast linear
    # quality classifier, and per-lang trigram diversity.
    "sim_knn_join",
    "dedup_containment",
    "dedup_passage",
    "chunk_documents",
    "quality_weighted_terms",
    "text_ngram_diversity",
    "dedup_semdedup",
    # Continuation batch: PQ compression ANN (ADC shortlist + exact
    # rerank), the Exchange-free bucketed join, Z-order skipping
    # stats, and deterministic importance sampling.
    "sim_pq_topk",
    "j8_bucketed_join",
    "layout_zorder_events",
    "sample_importance_weighted",
    "text_boilerplate_strip",
    "reconcile_checksum",
    # Composed ANN index (coarse cells + PQ codes + exact rerank) and
    # the mergeable-sketch distinct rollup.
    "sim_ivfpq_topk",
    "approx_hll_partials",
    "agg_bitmap_distinct",
    "graph_triangle_count",
    "sim_prefix_topk",
    "sim_filtered_topk",
    "dedup_lines_c4",
    "quality_lm_surprise",
    "embed_pca_power",
    # Late round-4: the per-source curation yield audit (single-scan
    # window plan) and the BPE merge-candidate ranking (vocabulary-
    # bounded after one corpus explode).
    "curation_funnel",
    "vocab_bpe_pair_stats",
    # Tokenizer lifecycle (iterative train + apply), the quality-first
    # curriculum two-phase rank, and the two-phase anneal mixture.
    "vocab_bpe_learn_merges",
    "tokenize_with_learned_bpe",
    "sample_curriculum_order",
    "mix_anneal_schedule",
    # Round-4 continuation: the retrieval/data-selection surface
    # (exact-integer BM25, DSIR importance weights), the classifier-
    # vs-gates calibration curve, per-label embedding outliers,
    # span-level contamination, and the small-file compaction planner.
    "search_bm25_topk",
    "dsir_importance",
    "quality_classifier_eval",
    "embed_outlier_scores",
    "decontaminate_span_lengths",
    "layout_compaction_plan",
    # Sketch family (fixed-size mergeable state + measured error),
    # hybrid rank fusion, MMR diversification, and the VWAP bars.
    "sketch_cms_heavy_hitters",
    "sketch_bloom_decontaminate",
    "search_hybrid_rrf",
    "search_mmr_diversify",
    "ts_vwap_bars",
    # Two-stage PRF retrieval and the zone-map skipping audit.
    "search_prf_expand",
    "layout_zonemap_skipping",
    # Distinct-count + overlap estimation sketches (HLL merge law,
    # KMV pair matrix) audited against their exact twins, and the
    # embedding-space decontamination pass.
    "sketch_hll_distinct",
    "sketch_kmv_overlap",
    "decontaminate_semantic",
    "sim_sq8_topk",
    # Product-analytics pair over the event stream: ordered funnel and
    # cohort retention.
    "events_funnel_steps",
    "events_retention_cohorts",
    "basket_pair_lift",
    "customer_rfm_segments",
    "events_active_users_rolling",
    "revenue_concentration_gini",
    # Fourth continuation batch: corpus-wide substring-span dedup,
    # blocked record linkage, incremental-view maintenance, A/B
    # readout, journey census, and the one-scan table profiler.
    "dedup_substring_spans",
    "er_blocked_matching",
    "view_incremental_merge",
    "experiment_ab_lift",
    "path_topk_journeys",
    "profile_table_stats",
    "skyline_pareto_parts",
    "sketch_quantile_histogram",
    "graph_label_propagation",
    "graph_kcore",
    "dedup_winnowing",
    "stats_ks_drift",
    "sample_temporal_split",
    "metrics_bootstrap_ci",
    "mm_phash_dedup",
    # r5: single-fact-pass histogram selection (was ~8 jobs / ~6 s).
    "stats_robust_mad",
    # r5 additions: dataloader-prep planning stage.
    "pack_sequences_plan",
    "export_shard_plan",
    # r6: multi-probe recall knob over the learned blocking quantizer.
    "dedup_embedding_multiprobe",
    # r7: the iterative-graph family was absent from the headline, so
    # regressions there were invisible round-over-round (VERDICT r6
    # item 5) — the CC survivor pass, the cluster-safe split built on
    # it, and the count-derived-quantizer IVF re-specified this round.
    "dedup_cc_survivors",
    "sample_cluster_safe_split",
    "sim_ivf_kmeans_topk",
    # r7: the OTHER gram-vote hash operator (mm_phash's text cousin) —
    # the family the scale-replica cipher fix was about; headline
    # membership keeps its decade ratio visible round-over-round.
    "dedup_simhash",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("rtss_bench")
    # ERROR, not WARN: the JVM logger writes to THIS process's stdout,
    # and a WARN emitted mid-print interleaves INTO the single JSON
    # line the driver parses (BENCH_r04.json came back parsed:null
    # exactly this way — WindowExec small-frame warnings landed inside
    # the line).
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    # Warm each subsystem once (JVM + each table's scan + generator
    # codegen + Python UDF workers) so per-query times measure the
    # plans, not first-touch costs attributed to whichever headline
    # query happens to run first.
    for warm in ["a1_count", "s5_value_counts", "dedup_exact", "mm_frame_sample"]:
        queries[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()
    queries["src1_trade_generator"](spark, sf_dir).limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()

    # Best of 2 runs per query: this box also hosts the driver's
    # periodic jobs, and a transient load spike can inflate a single
    # measurement 3-5x (observed); min-over-reps reports steady state.
    cpu0 = _proc_stat()
    times: dict[str, float] = {}
    # Per-query noise (r9, VERDICT item 1): the whole-run steal average
    # can't localize a burst — BENCH_r08's 10-query regression cluster
    # at suite positions 69-78 took two rounds of isolated A/Bs to
    # attribute to one ~60 s steal window. Recording the steal of the
    # rep that PRODUCED each reported best makes the artifact
    # self-diagnosing: a best-rep steal >2% next to an inflated number
    # says "stolen window", no re-litigation needed.
    query_noise: dict[str, float | None] = {}
    # Rep-level times (r10, VERDICT r9 item 6): min-over-reps hides the
    # cold/warm split of the in-process memos (corpus stats, dup-graph)
    # — the memo-build cost lands in whichever family entry runs first,
    # and only in its FIRST rep. Recording every rep makes cold vs warm
    # visible in the artifact without touching the timed region.
    rep_times: dict[str, list[float]] = {}
    for name in HEADLINE:
        best = float("inf")
        best_steal: float | None = None
        reps = 2
        rep = 0
        rep_times[name] = []
        while rep < reps:
            q0 = _proc_stat()
            t0 = time.monotonic()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            rep_times[name].append(round(dt, 3))
            # Steal-aware retry: if the HOST stole CPU during this
            # query's window (shared-tenant box, measured up to ~17%
            # under load), grant ONE extra rep so min-over-reps can
            # find an unstolen window. No-op on a clean box.
            noise = _steal_summary(q0, _proc_stat())
            if dt < best:
                best = dt
                best_steal = noise["steal_pct"] if noise else None
            if reps == 2 and noise and noise["steal_pct"] > 2.0:
                reps = 3
            rep += 1
        times[name] = round(best, 3)
        query_noise[name] = best_steal
    cpu1 = _proc_stat()

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Core count from the session's ACTUAL master (r10, VERDICT r9
    # item 2): the r9 scaling detector flagged suspect_cpus_ignored
    # because the compact line didn't carry the core count even though
    # session.py honors $SPARK_GRAFT_CPUS — make it self-evident.
    mc = re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master)
    cpus = int(mc.group(1)) if mc else None
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        # Every timed rep per query (min is what `queries` reports).
        # First-rep >> later-reps on a memo-family entry = the cold
        # memo build landing there; see OPTIMIZATION_r10.md.
        "rep_times": rep_times,
        # Host-noise fingerprint: this VM's vCPUs are host-shared, and
        # measured steal reaches ~17% of CPU time under full load on a
        # bad day (32-way burn degraded per-task wall 1.46 -> 3.14 s,
        # 2026-08-15) — enough to smear every query +30-70%. steal_pct
        # over the bench window makes the artifact self-describing:
        # compare it before reading any round-over-round delta.
        "host_noise": _steal_summary(cpu0, cpu1),
        # steal_pct measured over the rep that produced each query's
        # reported best — a burst shows up NEXT TO the number it
        # inflated (values are percentages; null when /proc/stat has
        # no steal column).
        "query_noise": query_noise,
    }
    delta = _prev_round_delta(times, sf)
    if delta is not None:
        out["prev_round_delta"] = delta

    # The external harness captures only a TAIL of stdout (~2000
    # chars): BENCH_r04/r05 both came back parsed:null because the
    # full 108-query artifact is one ~5 KB JSON line. So: write the
    # FULL artifact to .bench/BENCH_LOCAL.json (ignored by git, so a
    # run leaves the checkout clean), and print a compact line (total,
    # host noise, the slowest queries, top regressions) that fits the
    # tail capture whole.
    local_name = os.path.join(".bench", "BENCH_LOCAL.json")
    here = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(here, ".bench"), exist_ok=True)
    with open(os.path.join(here, local_name), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    top = dict(
        sorted(times.items(), key=lambda kv: -kv[1])[:_COMPACT_TOP_QUERIES]
    )
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(times),
        "host_noise": out["host_noise"],
        "queries": top,  # the slowest N; full table in `artifact`
        "queries_omitted": len(times) - len(top),
        # Queries whose REPORTED rep ran under >2% host steal — read
        # these numbers as upper bounds (full per-query map in the
        # artifact's query_noise).
        "stolen_reps": {
            n: s
            for n, s in sorted(
                query_noise.items(), key=lambda kv: -(kv[1] or 0)
            )
            if s is not None and s > 2.0
        },
        "artifact": local_name,
    }
    if delta is not None:
        regressions = dict(
            sorted(
                delta["per_query_delta_sec"].items(), key=lambda kv: -kv[1]
            )[:5]
        )
        compact["prev_round_delta"] = {
            "vs": delta["vs"],
            "common_total_sec": delta["common_total_sec"],
            "prev_common_total_sec": delta["prev_common_total_sec"],
            "added_queries_sec": delta["added_queries_sec"],
            "top_regressions_sec": regressions,
        }
    print(json.dumps(compact))


def _proc_stat() -> list[int] | None:
    """Aggregate jiffies from /proc/stat (user..steal..), or None off-Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except Exception:
        return None


def _steal_summary(a: list[int] | None, b: list[int] | None) -> dict | None:
    """CPU mix over the bench window: steal/busy/idle as % of jiffies."""
    if not a or not b:
        return None
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return {
        "steal_pct": round(100 * steal / tot, 2),
        "busy_pct": round(100 * (tot - idle - steal) / tot, 2),
        "idle_pct": round(100 * idle / tot, 2),
    }


def _prev_round_delta(times: dict[str, float], sf: float | None) -> dict | None:
    """Per-query delta vs the latest driver-recorded BENCH_r*.json.

    The headline set widens every round, so the raw total is not
    comparable round-over-round (r2 28.1 s / 29 queries vs r3 47.0 s /
    58 reads as a regression until decomposed).  This emits the honest
    decomposition inside the bench artifact itself: totals restricted
    to the common query set, per-query second deltas, and the cost of
    newly added queries listed separately.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    # Candidates in preference order per round: the committed
    # BENCH_LOCAL_r<N>.json (full 100+-query table) over the driver's
    # BENCH_r<N>.json (since r6 that holds only the compact top-12
    # line; before r6 it may be parsed:null entirely).
    by_round: dict[int, list[str]] = {}
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH(_LOCAL)?_r0*(\d+)\.json", f)
        if m:
            by_round.setdefault(int(m.group(2)), []).append(f)
    # Built ascending; consumed via reversed() below — so within a
    # round, LOCAL must come LAST here to be tried FIRST after the
    # reversal.
    rounds = [
        f
        for n in sorted(by_round)
        for f in sorted(by_round[n], key=lambda x: "LOCAL" in x)
    ]
    if not rounds:
        return None
    # Walk back past unparsable artifacts: BENCH_r04.json recorded
    # parsed:null (log-line interleave, fixed above) with only a
    # truncated tail — r03 is the latest with a full queries dict.
    prev_q, vs = None, None
    for fname in reversed(rounds):
        try:
            with open(os.path.join(here, fname)) as fh:
                raw = json.load(fh)
            prev = raw.get("parsed") or raw  # driver wraps the JSON line
            if prev.get("sf") != sf:  # cross-scale deltas would mislead
                continue
            prev_q = {k: float(v) for k, v in prev["queries"].items()}
            vs = fname
            break
        except Exception:
            continue
    if prev_q is None:
        return None
    common = sorted(set(times) & set(prev_q))
    if not common:
        return None
    return {
        "vs": vs,
        "common_total_sec": round(sum(times[q] for q in common), 3),
        "prev_common_total_sec": round(sum(prev_q[q] for q in common), 3),
        "added_queries_sec": round(
            sum(v for q, v in times.items() if q not in prev_q), 3
        ),
        "per_query_delta_sec": {
            q: round(times[q] - prev_q[q], 3) for q in common
        },
    }


if __name__ == "__main__":
    main()
