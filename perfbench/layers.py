"""Per-layer metrics of a traced run, and the trace file.

Counts and times are totals over the measured ops divided by the
number of measured cycles, so they read "per cycle" on both workloads
(a weekly run plus a no-op re-run; one pass over the mix). Medians,
ratios and sizes of state (partition dirs) are not divided. Metrics
of a layer the workload does not exercise read 0.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from spans import TASK_METRICS, descendants, parse_event_log, self_times, sum_stats

EXECUTOR_LAYERS = ("bronze", "silver", "gold", "pipeline", "catalog")
_LAYER_OF_MODULE = {
    "sources.bronze": "bronze",
    "operators.silver": "silver",
    "operators.gold": "gold",
}
_UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_mb": "MB"}


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    return [
        "bronze.read_parse_s", "bronze.files_scanned", "bronze.new_per_scanned",
        "silver.filter_unprocessed_s", "silver.with_partitions_s",
        "silver.with_partitions_jobs", "silver.write_s", "silver.files_written",
        "silver.bytes_written", "silver.register_s", "silver.register_jobs",
        "silver.partition_dirs",
        "gold.build_s", "gold.tables_written", "gold.files_written", "gold.input_rows",
        "pipeline.jobs", "pipeline.stages", "pipeline.tasks", "pipeline.weekly_run_s",
        "pipeline.noop_run_s", "pipeline.span_coverage", "pipeline.stored_bytes_per_raw_byte",
        "catalog.construct_s", "catalog.construct_jobs", "catalog.execute_s", "catalog.jobs",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "process.peak_rss_mb",
    ] + [f"{layer}.{m}" for layer in EXECUTOR_LAYERS for m in TASK_METRICS]


def unit(name: str) -> str:
    if name.endswith("bytes_written"):
        return "bytes"
    for suffix, u in _UNITS.items():
        if name.endswith(suffix):
            return u
    if name.endswith(("_per_scanned", "_per_raw_byte", "coverage")):
        return "ratio"
    return "count"


def load_event_log(event_log_dir: Path) -> dict[str, dict]:
    """Spark 4 writes a rolling log: a directory of ``events_<n>_*`` files."""
    files = sorted(event_log_dir.rglob("events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    return parse_event_log(files)


def per_layer(run, workload, tracer, stats) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    cycles = max(len(run.cycle_s), 1)
    ops = [s for s in spans if s.parent is None]
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def dur(*span_names):
        return sum(s.duration for n in span_names for s in by_name.get(n, []))

    def group(ids):
        return sum_stats(stats, spans, ids)

    def ids_of(*span_names):
        return [s.id for n in span_names for s in by_name.get(n, [])]

    layer_ids = {layer: [s.id for s in spans if _LAYER_OF_MODULE.get(s.layer) == layer]
                 for layer in ("bronze", "silver", "gold")}
    pipeline_ids = [i for s in ops if s.layer == "plans.pipeline" for i in descendants(spans, s.id)]
    catalog_ids = [i for s in ops if s.layer == "plans.testdata_queries"
                   for i in descendants(spans, s.id)]
    layer_ids.update(pipeline=pipeline_ids, catalog=catalog_ids)

    m: dict[str, float] = dict.fromkeys(names(), 0.0)  # totals, divided by cycles below
    levels: dict[str, float] = {"process.peak_rss_mb": run.peak_rss_mb}  # not per cycle
    io = getattr(workload, "io", [])
    if pipeline_ids:
        scanned = sum(r["files_scanned"] for r in io)
        pipe = group(pipeline_ids)
        own = self_times(spans)
        weekly = [s for s in ops if s.name == "weekly"]
        m.update({
            "bronze.read_parse_s": dur("read_raw_draws", "parse_draws"),
            "bronze.files_scanned": scanned,
            "bronze.new_per_scanned": sum(r["new_draws"] for r in io) / scanned if scanned else 0,
            "silver.filter_unprocessed_s": dur("filter_unprocessed"),
            "silver.with_partitions_s": dur("with_partitions"),
            "silver.with_partitions_jobs": group(ids_of("with_partitions"))["jobs"],
            "silver.write_s": dur("write_silver"),
            "silver.files_written": sum(r["silver_files_written"] for r in io),
            "silver.bytes_written": sum(r["silver_bytes_written"] for r in io),
            "silver.register_s": dur("register_silver"),
            "silver.register_jobs": group(ids_of("register_silver"))["jobs"],
            "gold.build_s": dur("build_all"),
            "gold.tables_written": sum(r["gold_tables_written"] for r in io),
            "gold.files_written": sum(r["gold_files_written"] for r in io),
            "gold.input_rows": group(layer_ids["gold"])["input_records"],
            "pipeline.jobs": pipe["jobs"],
            "pipeline.stages": pipe["stages"],
            "pipeline.tasks": pipe["tasks"],
        })
        levels.update({
            "silver.partition_dirs": io[-1]["silver_partition_dirs"] if io else 0,
            "pipeline.weekly_run_s": statistics.median(run.op_s.get("weekly", [0.0])),
            "pipeline.noop_run_s": statistics.median(run.op_s.get("noop", [0.0])),
            "pipeline.span_coverage": 1 - sum(own[s.id] for s in weekly) / sum(
                s.duration for s in weekly) if weekly else 0.0,
            "pipeline.stored_bytes_per_raw_byte": workload.stored_bytes_per_raw_byte(),
        })
    if catalog_ids:
        phases = [p for runs in workload.catalyst_ms.values() for p in runs]
        m.update({
            "catalog.construct_s": dur("construct"),
            "catalog.construct_jobs": group(ids_of("construct"))["jobs"],
            "catalog.execute_s": dur("execute"),
            "catalog.jobs": group(catalog_ids)["jobs"],
            **{f"catalyst.{p}_ms": sum(ph[p] for ph in phases)
               for p in ("analysis", "optimization", "planning")},
        })
    for layer, ids in layer_ids.items():
        if ids:
            totals = group(ids)
            m.update({f"{layer}.{k}": totals[k] for k in TASK_METRICS})
    m = {k: v / cycles for k, v in m.items()}
    m.update(levels)
    return {k: (v, unit(k)) for k, v in m.items()}


def write_trace(path: Path, args, run, workload, tracer, stats, e2e, metrics) -> None:
    """Spans with self times and their Spark work, and both metric sets."""
    own = self_times(tracer.spans)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cycles": len(run.cycle_s),
        "correct": run.failed == 0,
        "end_to_end_traced": {k: v for k, (v, _u) in e2e.items()},
        "per_layer": {k: v for k, (v, _u) in metrics.items()},
        "setup_s": run.setup_s,
        "setup_wall_s": run.setup_wall_s,
        "cycle_s": run.cycle_s,
        "op_wall_s": run.op_s,
        "stolen_share": run.stolen_share,
        "io": getattr(workload, "io", []),
        "catalyst_ms": getattr(workload, "catalyst_ms", {}),
        "spans": [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "start": round(s.start - tracer.spans[0].start, 6) if tracer.spans else 0,
             "duration": round(s.duration, 6), "self": round(own[s.id], 6),
             **{k: v for k, v in stats.get(s.group, {}).items() if v}}
            for s in tracer.spans
        ],
    }
    path.write_text(json.dumps(record, indent=1) + "\n")
