"""Driver-heap sizing: the cgroup memory limit, read against a fake
cgroup tree."""

from lottery_end_to_end_etl_data_pipeline_spark.session import _cgroup_memory_limit

GIB = 1024**3


def _tree(tmp_path, proc_lines, limits):
    proc = tmp_path / "cgroup"
    proc.write_text("".join(line + "\n" for line in proc_lines))
    root = tmp_path / "fs"
    for rel, value in limits.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(value + "\n")
    return str(proc), str(root)


def test_v2_nested_limit_below_an_unlimited_root(tmp_path):
    proc, root = _tree(tmp_path, ["0::/system.slice/job.scope"], {
        "memory.max": "max",
        "system.slice/memory.max": str(8 * GIB),
        "system.slice/job.scope/memory.max": str(2 * GIB),
    })
    assert _cgroup_memory_limit(proc, root) == 2 * GIB


def test_v2_tightest_limit_is_an_ancestor(tmp_path):
    proc, root = _tree(tmp_path, ["0::/a/b"], {
        "a/memory.max": str(3 * GIB),
        "a/b/memory.max": "max",
    })
    assert _cgroup_memory_limit(proc, root) == 3 * GIB


def test_v1_memory_controller_line(tmp_path):
    unlimited = "9223372036854771712"
    proc, root = _tree(tmp_path, ["5:cpu,cpuacct:/x", "4:memory:/jobs/j1", "0::/"], {
        "memory/memory.limit_in_bytes": unlimited,
        "memory/jobs/memory.limit_in_bytes": unlimited,
        "memory/jobs/j1/memory.limit_in_bytes": str(6 * GIB),
        "x/memory.max": str(GIB),  # not the memory controller's tree
    })
    assert _cgroup_memory_limit(proc, root) == 6 * GIB


def test_no_limit_and_no_cgroup(tmp_path):
    proc, root = _tree(tmp_path, ["0::/"], {"memory.max": "max"})
    assert _cgroup_memory_limit(proc, root) is None
    assert _cgroup_memory_limit(str(tmp_path / "absent"), root) is None


def test_container_path_missing_under_root_falls_back_to_root(tmp_path):
    # without a cgroup namespace the path names the host's tree, which
    # is not mounted inside the container; the root file still counts
    proc, root = _tree(tmp_path, ["0::/docker/abc"], {"memory.max": str(4 * GIB)})
    assert _cgroup_memory_limit(proc, root) == 4 * GIB


def test_console_progress_bars_are_off(spark):
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
