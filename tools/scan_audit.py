"""Repeated-scan audit over every bench headline query (r9
optimization round): compile each plan and count how many times each
parquet table is scanned — the cheap detector for the round's
recurring defect class, a reused subtree that Catalyst re-plans per
consumer because column pruning makes the copies non-identical
(found this way: quality_lm_surprise 3x documents,
dedup_substring_spans 3x documents).

The counts come from the compiled plan before execution, so a
subtree that Spark's exchange reuse will share at run time is listed
once per consumer here.

A `>= 3` flag is a candidate, not a verdict: sketch-vs-exact-twin
audits and two-pass quantile shapes legitimately re-scan a pruned
column (guide §5: cache only when recompute costs more than the
memory pressure caching creates).

Usage: python tools/scan_audit.py [--sf DIR]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_streaming_system_with_apache_kafka_spark import registry  # noqa: E402
from real_time_streaming_system_with_apache_kafka_spark.session import (  # noqa: E402
    get_session,
    pin_session_defaults,
)
from bench import HEADLINE  # noqa: E402


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    sf_dir = args.sf
    spark = pin_session_defaults(get_session("rtss_scan_audit"))
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    flagged = []
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        c = Counter(
            re.findall(r"InMemoryFileIndex \[file:[^\]]*/(\w+)\.parquet", plan)
        )
        multi = {t: n for t, n in c.items() if n >= 3}
        if multi:
            flagged.append(name)
        print(f"{name}: scans={dict(c)}{' <== MULTI' if multi else ''}", flush=True)
    print(f"flagged ({len(flagged)}): {flagged}")


if __name__ == "__main__":
    main()
