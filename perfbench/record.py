"""Write a traced-run record: where the time goes, per workload.

    python3 perfbench/record.py --seed 1 --out perfbench/records/seed-code.json

For each workload, runs the benchmark once untraced and once traced
with the same seed, and keeps the end-to-end numbers of both (their
difference is the tracing overhead), the per-layer metrics and a
per-op summary of the spans: per pipeline call for ``weekly_ingest``,
per catalog entry for ``analytics_mix``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("weekly_ingest", "analytics_mix")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def _span_summary(spans: list[dict]) -> dict:
    """Top-level op -> child span name -> summed duration, self time and jobs."""
    by_id = {s["id"]: s for s in spans}
    out: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s in spans:
        if s["parent"] is None:
            agg = out[s["name"]]["(op)"]
            name = "(op)"
        else:
            root = s
            while root["parent"] is not None:
                root = by_id[root["parent"]]
            name = s["name"]
            agg = out[root["name"]][name]
        for k in ("duration", "self", "jobs", "stages", "tasks"):
            agg[k] += s.get(k, 0)
        agg["calls"] += 1
    return {op: {n: {k: round(v, 4) for k, v in d.items()} for n, d in kids.items()}
            for op, kids in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args(argv)

    record = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for workload in WORKLOADS:
        plain = _run(workload, args.seed, args.seconds, 0)
        traced = _run(workload, args.seed, args.seconds, 1)
        trace = json.loads((Path.cwd() / ".perfbench" / "traces" /
                            f"{workload}-seed{args.seed}.json").read_text())
        untraced_e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        record["workloads"][workload] = {
            "correct": plain["correct"] and traced["correct"],
            "end_to_end": untraced_e2e,
            "end_to_end_traced": trace["end_to_end_traced"],
            "tracing_overhead": {k: trace["end_to_end_traced"][k] - v
                                 for k, v in untraced_e2e.items()},
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            **{k: trace[k] for k in ("setup_s", "setup_wall_s", "cycle_s", "op_wall_s",
                                     "stolen_share")},
            "spans": _span_summary(trace["spans"]),
        }
    args.out.parent.mkdir(parents=True, exist_ok=True)
    args.out.write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
