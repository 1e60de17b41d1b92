"""Round-4 retrieval & pipeline-audit demo: the search, selection,
and trust-but-verify layer added in the continuation session.

    python examples/retrieval_demo.py [sf_dir]

  BM25 probe search                      (search_bm25_topk)
  -> DSIR target-domain importance       (dsir_importance)
  -> classifier-vs-gates calibration     (quality_classifier_eval)
  -> realized-mix drift audit            (mix_drift_chi2)
  -> contamination span audit            (decontaminate_span_lengths)
  -> source overlap matrix               (profile_source_overlap)
  -> embedding outliers per label        (embed_outlier_scores)
  -> small-file compaction plan          (layout_compaction_plan)
  -> hybrid RRF fusion                   (search_hybrid_rrf)
  -> PRF query expansion                 (search_prf_expand)
  -> MMR diversification                 (search_mmr_diversify)
  -> k-center coreset                    (sample_kcenter_coreset)
  -> count-min heavy-hitter audit        (sketch_cms_heavy_hitters)
  -> Bloom decontamination pre-filter    (sketch_bloom_decontaminate)

Every stage is the registered operator itself (no demo-only logic);
each is exactly DuckDB-oracled in the parity suite.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from real_time_streaming_system_with_apache_kafka_spark.operators import (  # noqa: E402
    curation,
    datamix,
    layout,
    retrieval,
)
from real_time_streaming_system_with_apache_kafka_spark.session import (  # noqa: E402
    get_session,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("retrieval_demo")
    spark.sparkContext.setLogLevel("ERROR")

    hits = retrieval.search_bm25_topk(spark, sf_dir)
    top1 = {
        r["query_id"]: (r["doc_id"], r["score_ppm"])
        for r in hits.filter(F.col("rk") == 1).collect()
    }
    print(f"[1] bm25: top-1 per probe query -> {top1}")

    imp = retrieval.dsir_importance(spark, sf_dir)
    kept = imp.orderBy(F.desc("importance_sum_ppm")).limit(5).collect()
    n_target_in_top = sum(
        1 for r in kept if r["lang"] == retrieval.DSIR_TARGET_LANG
    )
    print(
        f"[2] dsir: top-5 most target-like docs "
        f"{[r['doc_id'] for r in kept]} "
        f"({n_target_in_top}/5 are lang={retrieval.DSIR_TARGET_LANG})"
    )

    curve = curation.quality_classifier_eval(spark, sf_dir).collect()
    best = max(curve, key=lambda r: r["f1_ppm"])
    print(
        f"[3] classifier eval: best F1 {best['f1_ppm'] / 1e4:.1f}% at "
        f"threshold {best['threshold']} "
        f"(P {best['precision_ppm'] / 1e4:.1f}% / "
        f"R {best['recall_ppm'] / 1e4:.1f}%)"
    )

    drift = datamix.mix_drift_chi2(spark, sf_dir)
    total_chi2 = drift.agg(F.sum("chi2_contrib_ppm")).collect()[0][0]
    worst = drift.orderBy(F.desc("chi2_contrib_ppm")).limit(1).collect()[0]
    print(
        f"[4] mix drift: total chi2 {total_chi2} ppm-units; worst source "
        f"{worst['source']} (realized {worst['realized_ppm']} vs target "
        f"{worst['target_ppm']} ppm)"
    )

    spans = curation.decontaminate_span_lengths(spark, sf_dir).collect()
    if spans:
        longest = max(spans, key=lambda r: r["max_span_grams"])
        print(
            f"[5] contamination spans: {len(spans)} contaminated docs; "
            f"longest shared span {longest['max_span_words']} words "
            f"(doc {longest['doc_id']})"
        )
    else:
        print("[5] contamination spans: corpus is clean at this sf")

    overlap = curation.profile_source_overlap(spark, sf_dir)
    worst_pair = overlap.orderBy(F.desc("jaccard_ppm")).limit(1).collect()
    if worst_pair:
        w = worst_pair[0]
        print(
            f"[6] source overlap: most-mirrored pair "
            f"{w['source_a']}~{w['source_b']} shares {w['n_shared']} "
            f"fingerprints (jaccard {w['jaccard_ppm']} ppm) "
            f"of {overlap.count()} overlapping pairs"
        )
    else:
        print("[6] source overlap: no cross-source fingerprints at this sf")

    out = curation.embed_outlier_scores(spark, sf_dir)
    n_labels = out.select("label").distinct().count()
    far = out.filter(F.col("rk") == 1).orderBy(F.desc("share_ppm")).limit(
        1
    ).collect()[0]
    print(
        f"[7] embedding outliers: top-{curation.OUTLIER_TOPK} per "
        f"{n_labels} labels; single farthest vector {far['vec_id']} "
        f"(label {far['label']}, {far['share_ppm']} ppm of its label's "
        "spread)"
    )

    plan = layout.layout_compaction_plan(spark, sf_dir)
    stats = plan.agg(
        F.count(F.lit(1)).alias("files"),
        F.count_distinct("partition_day", "target_bin").alias("bins"),
    ).collect()[0]
    print(
        f"[8] compaction plan: {stats['files']} micro-batch files -> "
        f"{stats['bins']} target files "
        f"(~{layout.COMPACT_TARGET_BYTES} B each)"
    )

    fused = retrieval.search_hybrid_rrf(spark, sf_dir)
    both = fused.filter(
        (F.col("lex_rank") > 0) & (F.col("vec_rank") > 0)
    ).count()
    print(
        f"[9] hybrid rrf: fused top-{retrieval.BM25_TOPK} per query; "
        f"{both} fused rows ranked by BOTH retrievers"
    )

    prf = retrieval.search_prf_expand(spark, sf_dir)
    moved = (
        prf.join(
            hits.select("query_id", "doc_id").withColumn("was", F.lit(1)),
            ["query_id", "doc_id"],
            "left",
        )
        .filter(F.col("was").isNull())
        .count()
    )
    print(
        f"[10] prf expansion: {moved} result slots changed vs plain "
        f"BM25 after mining {retrieval.PRF_EXPAND_TERMS} feedback "
        "terms/query"
    )

    mmr = retrieval.search_mmr_diversify(spark, sf_dir)
    print(
        f"[11] mmr diversify: {retrieval.MMR_SELECT} spread exemplars "
        f"per query -> "
        f"{[r['doc_id'] for r in mmr.filter(F.col('query_id') == 1).collect()]}"
        " (query 1)"
    )

    from real_time_streaming_system_with_apache_kafka_spark.operators import (
        sampling,
        sketches,
    )

    core = sampling.sample_kcenter_coreset(spark, sf_dir).collect()
    print(
        f"[12] k-center coreset: centers "
        f"{[r['vec_id'] for r in core]}, covering radius trace "
        f"{[round(r['dist_to_nearest'], 3) for r in core]}"
    )

    cms = sketches.sketch_cms_heavy_hitters(spark, sf_dir)
    worst = cms.orderBy(F.desc("overcount")).limit(1).collect()[0]
    print(
        f"[13] cms audit: worst heavy-hitter overcount "
        f"'{worst['term']}' exact={worst['exact_cnt']} "
        f"est={worst['est_cnt']} (width {sketches.CMS_WIDTH})"
    )

    bl = sketches.sketch_bloom_decontaminate(spark, sf_dir)
    tot = bl.agg(
        F.count(F.lit(1)).alias("flagged"),
        F.sum("n_false_pos_grams").alias("fp"),
        F.sum("n_true_hit_grams").alias("hits"),
    ).collect()[0]
    print(
        f"[14] bloom decon prefilter: {tot['flagged']} docs flagged "
        f"({tot['hits']} true contaminated grams, {tot['fp']} "
        "collision false positives pay the exact join)"
    )


if __name__ == "__main__":
    main()
