"""Capture ``explain('formatted')`` for a list of registry queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence the
judge reads (plan compilation is driver-side; EAGER driver-coordinated
operators additionally run their bounded model jobs at call time).

Usage:
    python tools/capture_plans.py --repo /root/repo --suffix after \
        --out /root/repo/plans/r09 --queries a,b,c

``--repo`` may point at a git worktree of an older commit to capture
the "before" plans from the same data with the same script.
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    from real_time_streaming_system_with_apache_kafka_spark import registry
    from real_time_streaming_system_with_apache_kafka_spark.session import (
        get_session,
        pin_session_defaults,
    )

    spark = pin_session_defaults(get_session("rtss_capture_plans"))
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    qs = registry.all_queries()
    for name in args.queries.split(","):
        name = name.strip()
        if not name:
            continue
        df = qs[name](spark, args.sf)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print("wrote", path, f"({len(text)} chars)")


if __name__ == "__main__":
    main()
