"""Generate docs/PLAN_AUDIT.md: a physical-plan inventory of every
catalog entry — exchanges, join strategies, Python stages, and the
repo linter's verdict — so plan discipline is reviewable at a glance
without re-running .explain() by hand.

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.01]

Entries that execute side effects when constructed (streaming drains,
index writes, k-means training) run them here exactly as the
correctness mirror does; the audited plan is the returned frame's.
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import inspect_entries  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark import get_session  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark.plans.lint import lint_plan  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (  # noqa: E402
    QUERIES,
)

NODE_PATTERNS = {
    "scans": r"Scan parquet|Scan ExistingRDD|Scan json|Scan csv|Scan orc|Scan text",
    "shuffles": r"Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition",
    "bcasts": r"BroadcastExchange",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "windows": r"\bWindow\b|WindowGroupLimit",
    "python": r"ArrowEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInPandas|PythonMapInArrow",
}


def inventory(df) -> tuple[dict[str, int], str]:
    """Node counts of the executed plan and the linter's rule list."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = {k: len(re.findall(p, plan)) for k, p in NODE_PATTERNS.items()}
    findings = lint_plan(df)
    return counts, "; ".join(sorted({f.rule for f in findings}))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, found, err in inspect_entries(spark, QUERIES, args.sf, inventory):
        if err is None:
            rows.append((name, *found, None))
        else:
            rows.append((name, {}, "", str(err).splitlines()[0][:100]))
        print(f"audited {name}", flush=True)

    out = Path(__file__).resolve().parent.parent / "docs" / "PLAN_AUDIT.md"
    with out.open("w") as f:
        f.write(
            "# PLAN AUDIT — physical-plan inventory of every catalog entry\n\n"
            f"Generated by `tools/plan_audit.py` at sf dir `{args.sf}`.\n"
            "Counts are node occurrences in the (pre-AQE) executed plan of\n"
            "the returned frame; `linter flags` is the repo plan linter's\n"
            "rule list (info-level Arrow kernels and scalar-sized broadcast\n"
            "NLJs are reviewed patterns — see docs/SCALE.md).\n\n"
            "| entry | scans | shuffles | bcasts | SMJ | BHJ | BNLJ | windows | python | linter flags |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, c, flags, err in rows:
            if err is not None:
                f.write(f"| {name} | — | — | — | — | — | — | — | — | ERROR: {err} |\n")
                continue
            f.write(
                f"| {name} | {c['scans']} | {c['shuffles']} | {c['bcasts']} | "
                f"{c['smj']} | {c['bhj']} | {c['bnlj']} | {c['windows']} | "
                f"{c['python']} | {flags} |\n"
            )
    with out.open("a") as f:
        f.write(
            "\n## Reviewed flags\n\n"
            "- `arrow-python-udf`: the deliberate kernels — unicode\n"
            "  normalization, zlib ratio, gram-matrix SemDeDup/cogroup —\n"
            "  each documented as \"Python where built-ins lose\" with the\n"
            "  measurement.\n"
            "- `nested-loop-join`: every occurrence is a broadcast of a\n"
            "  scalar-sized frame (1-row totals) or a bounded query batch —\n"
            "  the allow-listed pattern the lint docstring describes.\n"
            "- `global-window`: `ntile_price_deciles` (the SQL ntile\n"
            "  surface — sketch swap documented),\n"
            "  `pareto_revenue_concentration` / `daily_autocorrelation`\n"
            "  (windows over cardinality-bounded AGGREGATES, not facts),\n"
            "  `rrf_quality_fusion` (exact global rank; quantile-bucket\n"
            "  swap documented in the operator), `zipf_fit_audit` (rank\n"
            "  over a TakeOrdered-bounded top-1000 table),\n"
            "  `peak_concurrency_sweep` (the two-level prefix sum's\n"
            "  OFFSET window — over the 1000-row bucket table only; the\n"
            "  corpus-sized running sum is partitioned by bucket).\n"
            "- `expand-multi-distinct` (round-7 rule): exactly the two\n"
            "  column-profile entries — `column_profile_all` IS the\n"
            "  demoted exact oracle (documented ORACLE-ONLY; production\n"
            "  is the Expand-free approx profile), and\n"
            "  `column_profile_approx` runs the exact form on a 1/16 md5\n"
            "  sample to audit the approx path (r10: the full-table\n"
            "  exact audit was the bench's worst scaler). No production\n"
            "  entry plans a wide Expand.\n"
        )
    n_err = sum(1 for *_, e in rows if e is not None)
    print(f"\nwrote {out} ({len(rows)} entries, {n_err} errors)")
    return 1 if n_err else 0


if __name__ == "__main__":
    sys.exit(main())
