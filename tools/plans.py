"""Compile registry plans and report what Catalyst planned, without
running the queries.

One compile per query (the bench headline by default, or ``--queries``),
three views of its ``explain('formatted')`` plan:

- the scale summary line: exchange partitioning kinds, broadcast and
  sort-merge joins, whether filters reach the scan, and flags for
  cartesian products, top-k without a global sort and rank pushdown;
- the per-table scan counts. A table scanned ``>= 3`` times is flagged
  ``<== MULTI``: often a reused subtree that Catalyst re-plans per
  consumer because column pruning made the copies differ, but sketch
  audits and two-pass quantiles re-scan legitimately, so a flag is a
  candidate, not a verdict. Counts come from the plan before
  execution, so a subtree that exchange reuse will share at run time
  is listed once per consumer;
- optionally, each formatted plan written to ``--out`` as
  ``<query>_<suffix>.txt``, and all of them as one markdown report
  (``--md``, the form of PLANS.md).

Compilation is driver-side; entries that fit a model at build time
(the checkpoint sites of ROADMAP item 2) still run those jobs.

Usage:
    python tools/plans.py --sf DIR [--queries a,b,c] [--repo PATH]
        [--out DIR --suffix after] [--md PLANS.md]

``--repo`` compiles the plans of another checkout (say, an older
commit's) with this same script.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def summarize(plan: str) -> str:
    # Formatted mode puts the operator name and its arguments on
    # separate lines: count partitioning kinds from the Arguments
    # lines of Exchange nodes.
    n_single = plan.count("Arguments: SinglePartition")
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    n_range = len(re.findall(r"Arguments: rangepartitioning", plan))
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    n_smj = len(re.findall(r"\(\d+\) SortMergeJoin", plan))
    pushed = bool(re.search(r"PushedFilters: \[(?!\])", plan))
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN!")
    if "TakeOrderedAndProject" in plan:
        flags.append("topK-no-global-sort")
    if "WindowGroupLimit" in plan:
        flags.append("rank-pushdown")
    return (
        f"hash-exchanges={n_hash} range-exchanges={n_range} "
        f"single-partition={n_single} "
        f"broadcast-joins={n_bhj} sortmerge-joins={n_smj} "
        f"pushed-filters={'yes' if pushed else 'no'}"
        + (" " + " ".join(flags) if flags else "")
    )


def scan_counts(plan: str) -> Counter:
    return Counter(
        re.findall(r"InMemoryFileIndex \[file:[^\]]*/(\w+)\.parquet", plan)
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="scale-factor data directory")
    ap.add_argument("--queries", help="comma-separated registry names "
                    "(default: bench.HEADLINE)")
    ap.add_argument("--repo", default=REPO, help="checkout to compile")
    ap.add_argument("--out", help="write each plan to OUT/<query>_<suffix>.txt")
    ap.add_argument("--suffix", default="plan")
    ap.add_argument("--md", help="write the markdown report to this path")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    from real_time_streaming_system_with_apache_kafka_spark import registry
    from real_time_streaming_system_with_apache_kafka_spark.session import (
        get_session,
        pin_session_defaults,
    )

    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
    else:
        from bench import HEADLINE

        names = HEADLINE
    spark = pin_session_defaults(get_session("rtss_plans"))
    spark.sparkContext.setLogLevel("ERROR")
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    queries = registry.all_queries()
    md = [
        f"# Physical plans ({os.path.basename(args.sf.rstrip('/'))})",
        "",
        "Generated by `tools/plans.py --md` (plan compilation only — "
        "no execution). Summary line per query, full "
        "`explain('formatted')` below it.",
        "",
    ]
    flagged = []
    for name in names:
        plan = plan_text(queries[name](spark, args.sf))
        summary, scans = summarize(plan), scan_counts(plan)
        multi = any(n >= 3 for n in scans.values())
        if multi:
            flagged.append(name)
        print(name, "|", summary)
        print(f"{name}: scans={dict(scans)}{' <== MULTI' if multi else ''}", flush=True)
        if args.out:
            with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        md += [f"## {name}", "", f"`{summary}`", "", "```", plan.strip(), "```", ""]
    print(f"flagged ({len(flagged)}): {flagged}")
    if args.md:
        with open(args.md, "w") as fh:
            fh.write("\n".join(md))


if __name__ == "__main__":
    main()
