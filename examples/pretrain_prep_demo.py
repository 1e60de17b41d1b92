"""Round-4 pretraining-prep demo: the cleaning -> scoring -> masking
ladder this engine adds on top of the curation pipeline.

    python examples/pretrain_prep_demo.py [sf_dir]

  URL-canonical dedup                    (url_canonical_dedup)
  -> C4 line dedup w/ reconstruction     (dedup_lines_c4)
  -> LM-surprise quality scoring         (quality_lm_surprise)
  -> per-domain quality calibration      (quality_domain_calibrated)
  -> T5 span-corruption plan             (mask_span_plan)
  -> top principal component + proj      (embed_pca_power)
  -> contrastive hard negatives          (sim_hard_negatives)

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
    dedup,
    pipeline_analytics,
    sampling,
    similarity,
    text,
)
from real_time_streaming_system_with_apache_kafka_spark.session import (  # noqa: E402
    get_session,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("pretrain_prep_demo")
    spark.sparkContext.setLogLevel("ERROR")

    urls = dedup.url_canonical_dedup(spark, sf_dir)
    merged = urls.filter(F.col("n_docs") > 1)
    print(
        f"[1] url canonical dedup: {urls.count()} canonical urls, "
        f"{merged.count()} merged >1 doc"
    )

    lines = dedup.dedup_lines_c4(spark, sf_dir)
    touched = lines.filter(F.col("n_dropped") > 0)
    print(
        f"[2] C4 line dedup: {touched.count()} docs lost lines; "
        f"{lines.agg(F.sum('n_dropped')).collect()[0][0]} lines dropped "
        "corpus-wide (first occurrence kept)"
    )

    lm = curation.quality_lm_surprise(spark, sf_dir)
    print(
        "[3] LM surprise (ppm, higher = more surprising): "
        + ", ".join(
            f"doc {r['doc_id']}={r['mean_surprise_ppm']:.0f}"
            for r in lm.orderBy(F.desc("mean_surprise_ppm")).limit(3).collect()
        )
    )

    calib = curation.quality_domain_calibrated(spark, sf_dir)
    kept = calib.filter("keep").count()
    print(
        f"[4] per-domain calibration: {kept}/{calib.count()} docs kept "
        f"(top {curation.CALIB_TOP_FRAC:.0%} of every source)"
    )

    plan = curation.mask_span_plan(spark, sf_dir)
    n_spans = plan.count()
    n_docs = plan.select("doc_id").distinct().count()
    print(f"[5] span-corruption plan: {n_spans} spans across {n_docs} docs")

    proj = similarity.embed_pca_power(spark, sf_dir)
    ends = proj.withColumn("p", F.col("proj_units").cast("decimal(38,0)"))
    lo, hi = ends.agg(F.min("p"), F.max("p")).collect()[0]
    print(f"[6] top principal component: projection range [{lo}, {hi}]")

    hard = similarity.sim_hard_negatives(spark, sf_dir)
    print("[7] hard negatives (anchor -> impostor, cos):")
    for r in hard.orderBy("query_id", "rank").limit(6).collect():
        print(
            f"      q{r['query_id']} #{r['rank']}: vec {r['neighbor_id']} "
            f"(label {r['neg_label']}) cos={r['cos']:.4f}"
        )

    tm = pipeline_analytics.event_transition_matrix(spark, sf_dir)
    top = tm.orderBy(F.desc("n_transitions")).limit(3).collect()
    print(
        "[8] event transition matrix, top flows: "
        + ", ".join(
            f"{r['prev_type']}->{r['event_type']} ({r['share']:.1%})"
            for r in top
        )
    )

    funnel = curation.curation_funnel(spark, sf_dir).collect()
    worst = min(funnel, key=lambda r: r["survival_rate"])
    print(
        f"[9] curation funnel: {sum(r['n_raw'] for r in funnel)} raw -> "
        f"{sum(r['n_quality'] for r in funnel)} quality -> "
        f"{sum(r['n_unique'] for r in funnel)} unique; worst source "
        f"{worst['source']} at {worst['survival_rate']:.0%}"
    )

    merges = text.vocab_bpe_learn_merges(spark, sf_dir).collect()
    print(
        "[10] BPE merges learned: "
        + ", ".join(
            f"#{r['merge_rank']} '{r['merge_left']}'+'{r['merge_right']}'"
            f" (w={r['weight']})"
            for r in sorted(merges, key=lambda r: r["merge_rank"])
        )
    )

    cur = sampling.sample_curriculum_order(spark, sf_dir)
    head = cur.orderBy("curriculum_pos").limit(1).collect()[0]
    tail = cur.orderBy(F.desc("curriculum_pos")).limit(1).collect()[0]
    print(
        f"[11] curriculum order: doc {head['doc_id']} first "
        f"(stage {head['stage']}), doc {tail['doc_id']} last "
        f"(stage {tail['stage']})"
    )


if __name__ == "__main__":
    main()
