"""Scale soak (VERDICT r1 #3, extended): sf0.1 -> sf1 -> sf10.

Materializes key-striped replicas of /root/testdata/sf0.1 (10x under
.scale/sf1, 100x under .scale/sf10 — 60M lineitem rows), runs the
bench headline set at each scale, and reports per-query runtime ratios
between consecutive decades. A ratio near 10 is linear scaling; well
above ~15 flags a plan that would not survive 100x.

Replication model (one replica = one key-space stripe):

- region/nation are SF-invariant in TPC-H and copied as-is.
- Every other table gets key columns offset by ``rep * STRIDE`` so
  referential joins (orders->customer, lineitem->part/supplier,
  events.user_id) stay consistent within a stripe and never collide
  across stripes.
- embeddings.label is offset per replica: block COUNT scales with the
  corpus while block SIZE stays constant — exactly how an IVF coarse
  quantizer behaves when the corpus grows (more cells, same cell
  occupancy). vec_id 0..4 (the demo query vectors) exist only in
  stripe 0, as in a real query workload.
- documents in stripe r>0 pass through a seeded per-stripe
  ALPHABET-PERMUTATION cipher — a per-replica VOCABULARY BIJECTION.
  Within-stripe shingle AND character-gram statistics (and therefore
  Jaccard/minhash/simhash dup-group structure) are preserved exactly;
  cross-stripe overlap drops to zero. Without this, byte-identical
  replicas form dup groups whose size grows with the replica count
  and the pair OUTPUT grows quadratically by data construction, which
  would masquerade as super-linear operator cost. (The r2-r6 word-
  suffix variant of this bijection preserved shingles but skewed the
  character-gram mass toward the suffix grams, degenerating gram-vote
  hashes — see the documents branch in generate().)

Usage: python tools/scale_soak.py [--skip-generate] [--scales 1,10]
Writes SOAK_r2.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from real_time_streaming_system_with_apache_kafka_spark import registry  # noqa: E402
from real_time_streaming_system_with_apache_kafka_spark.session import get_session  # noqa: E402
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load  # noqa: E402
from bench import HEADLINE, _proc_stat, _steal_summary  # noqa: E402

SRC_SF = "/root/testdata/sf0.1"
STRIDE = 100_000_000  # far above any base key
LABEL_STRIDE = 1_000

KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ["region", "nation"]
# Output partitions per 10 replicas, sized for ~10-60 MB files.
PARTITIONS = {"lineitem": 16, "orders": 8, "events": 8}

# Generator/cipher contract version, written into every generated
# scale dir (r9 ADVICE): bump whenever the striping transform changes
# meaning. v1 = r7 letters-only alphabet permutation; v2 = r8
# letters+digits bijection (numeric tokens stripe-disjoint). A
# --skip-generate run against a dir with a missing or older marker
# would silently measure data with a DIFFERENT disjointness contract —
# fail instead.
GENERATOR_VERSION = 2
_VERSION_MARKER = "GENERATOR_VERSION"


def _write_version_marker(dst: str) -> None:
    with open(os.path.join(dst, _VERSION_MARKER), "w") as fh:
        fh.write(f"{GENERATOR_VERSION}\n")


def check_version_marker(dst: str) -> None:
    """SystemExit unless dst carries the current generator version."""
    path = os.path.join(dst, _VERSION_MARKER)
    found = None
    if os.path.exists(path):
        with open(path) as fh:
            found = fh.read().strip()
    if found != str(GENERATOR_VERSION):
        raise SystemExit(
            f"{dst}: generator version marker is {found!r}, need "
            f"{GENERATOR_VERSION} — the stripe cipher changed since this "
            "dir was generated; re-run without --skip-generate"
        )


def generate(spark, n_replicas: int, dst: str, only: set[str] | None = None) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in COPY_AS_IS:
        if only and t not in only:
            continue
        shutil.copyfile(
            os.path.join(SRC_SF, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )
        print(f"  {t}: copied (SF-invariant)", flush=True)
    reps = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("rep")
    for t, keys in KEYED.items():
        if only and t not in only:
            continue
        df = load(spark, t, SRC_SF).select("*", reps)
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("rep").cast("long") * STRIDE)
        if t == "embeddings":
            df = df.withColumn(
                "label", F.col("label") + F.col("rep") * F.lit(LABEL_STRIDE)
            )
            # Per-stripe DIMENSION PERMUTATION (orthogonal transform):
            # within-stripe cosines are preserved EXACTLY (both sides
            # permute the same way) while byte-identical cross-stripe
            # twins decorrelate. Without this, every stripe's copy of a
            # vector lands in the same learned quantizer cell at
            # cosine 1.0 and the near-dup pair OUTPUT grows
            # quadratically in the replica count by data construction
            # (the embedding twin of the documents vocabulary
            # bijection above — measured r6: 18.8M pairs at sf10, ~94%
            # of them cross-stripe identity pairs). Stripe 0 stays
            # byte-identical to the source.
            dim_perm = F.transform(
                F.array_sort(
                    F.transform(
                        F.sequence(
                            F.lit(0), F.size("embedding") - F.lit(1)
                        ),
                        lambda d: F.struct(
                            F.xxhash64(F.col("rep"), d).alias("k"),
                            d.alias("d"),
                        ),
                    )
                ),
                lambda s: F.element_at(
                    F.col("embedding"), s.getField("d") + F.lit(1)
                ),
            )
            df = df.withColumn(
                "embedding",
                F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
                    dim_perm
                ),
            )
        if t == "documents":
            # Per-stripe ALPHABET-PERMUTATION cipher (r7, replacing the
            # r2-r6 word-suffix bijection). The suffix transform
            # concentrated ~40% of a short doc's character 3-grams on
            # ~6 suffix gram types, so gram-VOTE hashes (simhash/pHash)
            # degenerated into stripe-wide mega-clusters and the pair
            # OUTPUT grew quadratically by data construction (measured
            # r7: 93M mm_phash pairs at sf10 vs 131 at sf0.1 — a
            # 196x/decade output explosion no real corpus exhibits). A
            # seeded per-stripe bijective letter substitution preserves
            # word lengths, token counts, within-stripe shingle AND
            # gram statistics EXACTLY (bijection on characters =>
            # bijection on grams/shingles/words), while cross-stripe
            # vocabularies stay disjoint. Stripe 0 is byte-identical to
            # the source; every other stripe gets its own permutation
            # (never a repeat, unlike a Caesar rotation which would
            # collide every 26 stripes and reintroduce byte-identical
            # cross-stripe twins).
            # The bijection covers letters AND digits (r7's version
            # left digits untouched, so purely numeric tokens/grams
            # stayed byte-identical across stripes — a residual
            # cross-stripe dup overlap contradicting the disjointness
            # contract). Punctuation/whitespace remain fixed points by
            # design: they are gram DELIMITERS, not vocabulary, and
            # permuting them would break tokenization structure.
            import random as _random

            lower = "abcdefghijklmnopqrstuvwxyz"
            upper = lower.upper()
            digits = "0123456789"
            cipher = F.col("text")
            for r in range(n_replicas - 1, 0, -1):
                rng = _random.Random(0xC1F3 + r)
                perm = list(lower)
                rng.shuffle(perm)
                p = "".join(perm)
                dperm = list(digits)
                rng.shuffle(dperm)
                dp = "".join(dperm)
                cipher = F.when(
                    F.col("rep") == r,
                    F.translate(
                        "text", lower + upper + digits, p + p.upper() + dp
                    ),
                ).otherwise(cipher)
            df = df.withColumn("text", cipher)
        parts = PARTITIONS.get(t, 4) * max(1, n_replicas // 10)
        df = df.drop("rep").repartition(parts)
        out = os.path.join(dst, f"{t}.parquet")
        tmp = out + ".dir"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isfile(out):
            os.remove(out)
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
        n = spark.read.parquet(out).count()
        print(f"  {t}: {n} rows", flush=True)
    if only is None:
        _write_version_marker(dst)


def run_bench(spark, sf_dir: str) -> dict[str, float]:
    queries = registry.all_queries()
    for warm in ["a1_count", "s5_value_counts", "dedup_exact", "mm_frame_sample"]:
        queries[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()
    times: dict[str, float] = {}
    for name in HEADLINE:
        # Best-of-2 (same policy as bench.py): this box also hosts the
        # driver's periodic jobs and single measurements spike 3-5x
        # under transient load, which would masquerade as super-linear
        # scaling in the decade ratios.
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        times[name] = round(best, 3)
        print(f"  {name}: {times[name]}s", flush=True)
    return times


def check_sketch_tolerances(spark, sf_dir: str) -> dict:
    """Verify the approx-sketch tolerance contracts AT SCALE (r9,
    VERDICT item 6): `approx_hll_partials` / `approx_aggregates` emit
    deterministic within-tolerance booleans that the sf0.01 driver
    oracle pins true — but sketch error grows with cardinality, so the
    booleans must also be checked at sf1/sf10 where the certification
    gate never runs. Returns {column: all_true} per entry; any False
    is a contract violation worth failing the soak over."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics

    out: dict = {}
    for name, fn in (
        ("approx_hll_partials", analytics.approx_hll_partials),
        ("approx_aggregates", analytics.approx_aggregates),
    ):
        rows = fn(spark, sf_dir).collect()
        bools = {
            f: all(bool(r[f]) for r in rows)
            for f in rows[0].asDict()
            if isinstance(rows[0][f], bool)
        }
        out[name] = bools
        bad = [f for f, ok in bools.items() if not ok]
        if bad:
            print(f"  !! {name}: tolerance violated at {sf_dir}: {bad}", flush=True)
    return out


def main() -> None:
    scales = [1, 10]
    for arg in sys.argv[1:]:
        if arg.startswith("--scales"):
            scales = [int(s) for s in arg.split("=", 1)[1].split(",")]
    spark = get_session("rtss_soak")
    dirs = {0.1: SRC_SF}
    for s in scales:
        dst = os.path.join(REPO, ".scale", f"sf{s}")
        dirs[float(s)] = dst
        if "--skip-generate" not in sys.argv:
            print(f"generating sf{s} ({s * 10} replicas) ...", flush=True)
            generate(spark, s * 10, dst)
        else:
            check_version_marker(dst)
    results = {}
    noise = {}
    for sf, d in sorted(dirs.items()):
        print(f"bench @ sf{sf} ...", flush=True)
        cpu0 = _proc_stat()
        results[sf] = run_bench(spark, d)
        noise[sf] = _steal_summary(cpu0, _proc_stat())
    tolerances = {}
    for sf, d in sorted(dirs.items()):
        print(f"sketch tolerance check @ sf{sf} ...", flush=True)
        tolerances[sf] = check_sketch_tolerances(spark, d)
    sfs = sorted(results)
    report = {"metric": "scale_soak", "scales": sfs}
    for sf in sfs:
        report[f"sf{sf}_total_sec"] = round(sum(results[sf].values()), 3)
        # Same caveat as bench.py's host_noise: single-rep soak times on
        # a shared-tenant host include whatever the host steals.
        report[f"host_noise_sf{sf}"] = noise.get(sf)
        report[f"queries_sf{sf}"] = results[sf]
        report[f"sketch_tolerances_sf{sf}"] = tolerances.get(sf)
    for lo, hi in zip(sfs, sfs[1:]):
        report[f"ratio_sf{hi}_over_sf{lo}"] = {
            k: round(results[hi][k] / results[lo][k], 2)
            for k in results[hi]
            if results[lo][k] > 0
        }
    out_name = os.environ.get("SOAK_OUT", "SOAK_r3.json")
    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
