"""One-shot verification sweep: everything a round-end check needs.

Runs, in order (stopping on first failure):
  1. pytest tests/ -q
  2. tools/check_oracle.py     (full catalog vs DuckDB at sf0.01)
  3. tools/check_invariance.py (full catalog, partition-order
     determinism at sf0.001 — the r07 driver-flake class)
  4. tools/round_risk_scan.py  (static round-of-double lint over every
     entry's output expressions — r09, VERDICT r8 #4)
  5. tools/plan_audit.py       (regenerates docs/PLAN_AUDIT.md)
  6. bench.py                  (refreshes BENCH_DETAIL.json, or writes
     BENCH_DETAIL.quarantine.json when the run measured itself
     contended; the catalog harness every timing tool shares)
  7. tools/scaling_probe.py --decade-check  (top-decade superlinear
     gate over the 10 most expensive BENCH_SF1 entries; r11, VERDICT
     r10 #5 — auto-skipped when localdata/sf10 is absent)

Usage: python tools/verify_all.py [--skip-bench] [--skip-audit]
       [--skip-invariance] [--skip-decade]
Exit code 0 only if every stage passes.
"""

from __future__ import annotations

import argparse
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(label: str, cmd: list[str]) -> None:
    print(f"== {label}: {' '.join(cmd)}", flush=True)
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT)
    dt = time.monotonic() - t0
    if proc.returncode != 0:
        print(f"== {label} FAILED ({dt:.0f}s)", flush=True)
        sys.exit(proc.returncode)
    print(f"== {label} OK ({dt:.0f}s)", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-bench", action="store_true")
    ap.add_argument("--skip-audit", action="store_true")
    ap.add_argument("--skip-invariance", action="store_true")
    ap.add_argument("--skip-decade", action="store_true")
    args = ap.parse_args()

    run("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"])
    run("oracle-mirror", [sys.executable, "tools/check_oracle.py"])
    if not args.skip_invariance:
        run(
            "invariance-sweep",
            [sys.executable, "tools/check_invariance.py"],
        )
    run("round-risk-scan", [sys.executable, "tools/round_risk_scan.py"])
    if not args.skip_audit:
        run("plan-audit", [sys.executable, "tools/plan_audit.py"])
    if not args.skip_bench:
        run("bench", [sys.executable, "bench.py"])
    if not args.skip_decade:
        if (ROOT / "localdata" / "sf10").is_dir():
            run(
                "decade-gate",
                [sys.executable, "tools/scaling_probe.py", "--decade-check"],
            )
        else:
            print("== decade-gate SKIPPED (localdata/sf10 absent)", flush=True)
    print("== ALL VERIFICATION STAGES PASSED", flush=True)


if __name__ == "__main__":
    main()
