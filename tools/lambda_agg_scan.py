"""Scan every catalog entry's physical plan for higher-order lambda
expressions evaluated INSIDE an aggregate operator (r12 finding):
when a projection containing lambda-based expressions (transform /
filter / aggregate / exists over arrays) is adjacent to a Hash- or
ObjectHashAggregate, the optimizer folds it into the aggregate's
result expressions, where it runs interpreted — no whole-stage
codegen and no subexpression elimination, so inner terms like
split(lower(text)) re-evaluate per array element. Measured 8x on the
PPJoin collapse path (4.3s -> 0.5s at sf0.1) before isolating the
projection behind an exchange.

Usage: python tools/lambda_agg_scan.py [--sf /root/testdata/sf0.1]
       [names ...]

Prints one line per flagged (entry, operator) pair. Entries whose
construction fails (streaming side effects etc.) are reported and
skipped.
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import formatted_plan, inspect_entries  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark import get_session  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (  # noqa: E402
    QUERIES,
)

AGG_RE = re.compile(r"^\(\d+\) (\w*HashAggregate|SortAggregate)")


def flagged_aggs(formatted: str) -> list[str]:
    """Aggregate-operator detail blocks containing lambda functions."""
    hits = []
    # formatted explain: tree, then blank-line-separated operator
    # detail blocks each starting "(n) OpName"
    for block in formatted.split("\n\n"):
        head = block.strip().splitlines()[0] if block.strip() else ""
        if AGG_RE.match(head) and "lambdafunction" in block:
            hits.append(head)
    return hits


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    spark = get_session("lambda_agg_scan")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.names or sorted(QUERIES)
    n_flagged = 0
    for name, plan, exc in inspect_entries(spark, names, args.sf, formatted_plan):
        if exc is not None:
            print(f"SKIP  {name}: {type(exc).__name__}: {exc}", flush=True)
            continue
        for head in flagged_aggs(plan):
            n_flagged += 1
            print(f"FLAG  {name}: {head}", flush=True)
    print(f"done: {n_flagged} flagged operator(s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
