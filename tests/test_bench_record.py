"""The harness's record writer and comparison rule (bench.py), fed
synthetic pass timings and a previous record (no Spark session), and
the job tagging of its timing protocol."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import publish, record, time_entries  # noqa: E402

# The compact line is parsed from stdout and BENCH_DETAIL.json is read
# back as the next run's baseline: their key sets are a contract.
DETAIL_KEYS = {
    "metric", "value", "unit", "passes", "reference_pipeline_sec",
    "machine_control_factor", "queries", "dispersion_max_over_min",
    "pass_times", "regressions_vs_prev", "sf", "quarantined",
}
COMPACT_KEYS = {
    "metric", "value", "unit", "n_queries", "passes", "sec_per_query",
    "reference_pipeline_sec", "machine_control_factor", "dispersion_p50",
    "dispersion_max", "dispersion_max_entry", "regressions_vs_prev",
    "quarantined", "queries", "queries_file", "sf",
}
PREV = {f"q{i}": 1.0 for i in range(5)}


def _prev_record(tmp_path, name="BENCH_DETAIL.json", queries=PREV):
    path = tmp_path / name
    path.write_text(json.dumps({"queries": queries}, indent=1) + "\n")
    return path


def _steady(scale, **overrides):
    """Two identical passes per entry at ``scale`` x the previous time."""
    times = {k: scale * v for k, v in PREV.items()} | overrides
    return {k: [t, t] for k, t in times.items()}


def test_detail_and_compact_key_sets(tmp_path):
    path = _prev_record(tmp_path)
    compact = publish(
        _steady(1.0), path, "headline_queries_total", "sf", reference_pipeline_sec=0.0
    )
    assert set(compact) == COMPACT_KEYS
    assert set(json.loads(path.read_text())) == DETAIL_KEYS
    assert compact["queries_file"] == "BENCH_DETAIL.json"


def test_control_is_clamped_to_one():
    # a uniformly faster box must not relax the gate below 1.3x raw
    detail = record(_steady(0.5), Path("/nonexistent"), "m", "sf")
    assert detail["machine_control_factor"] == 1.0
    assert detail["regressions_vs_prev"] == []


def test_control_above_1_15_is_flagged(tmp_path):
    path = _prev_record(tmp_path)
    assert record(_steady(1.1), path, "m", "sf")["regressions_vs_prev"] == []
    detail = record(_steady(1.2), path, "m", "sf")
    assert detail["machine_control_factor"] == 1.2
    assert detail["regressions_vs_prev"] == [["median_drift_CONTROL", 1.2]]


def test_regression_threshold_and_floor(tmp_path):
    path = _prev_record(tmp_path, queries=PREV | {"small": 0.4})
    # the median ratio is 1.0, so only the isolated entries move
    detail = record(_steady(1.0, q0=1.31, q1=1.29, small=4.0), path, "m", "sf")
    assert detail["machine_control_factor"] == 1.0
    assert detail["regressions_vs_prev"] == [["q0", 1.31]]


def test_contended_sf1_run_is_quarantined(tmp_path):
    path = _prev_record(tmp_path, "BENCH_SF1.json")
    committed = path.read_bytes()
    compact = publish(_steady(1.5), path, "sf1_gate_total", "sf1")
    quarantine = tmp_path / "BENCH_SF1.quarantine.json"
    assert compact["quarantined"] and compact["queries_file"] == quarantine.name
    assert path.read_bytes() == committed
    assert json.loads(quarantine.read_text())["machine_control_factor"] == 1.5


def test_noisy_sf1_run_is_quarantined_and_quiet_run_committed(tmp_path):
    path = _prev_record(tmp_path, "BENCH_SF1.json")
    committed = path.read_bytes()
    noisy = {k: [1.0, 1.4] for k in PREV}
    assert publish(noisy, path, "sf1_gate_total", "sf1")["quarantined"]
    assert path.read_bytes() == committed
    assert not publish(_steady(1.0), path, "sf1_gate_total", "sf1")["quarantined"]
    assert json.loads(path.read_text())["queries"] == {k: 1.0 for k in PREV}


def test_timed_entry_jobs_carry_the_entry_name(spark, tmp_path):
    seen = []

    def build(session, sf_dir):
        seen.append(session.sparkContext.getLocalProperty("spark.job.description"))
        return session.range(1)

    timed = time_entries(spark, {"tagged_entry": build}, [str(tmp_path)], 2)
    assert len(timed[str(tmp_path)]["tagged_entry"]) == 2
    assert seen and set(seen) == {"tagged_entry"}
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
