"""SparkSession factory.

Reference parity note: the reference has no session concept (Lambda +
Glue Python Shell + Athena, SURVEY §3.1); in the Spark-native design a
single session owns the whole lifecycle. Defaults here are chosen for
the 100 TB north star but degrade gracefully on local[*]:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join
  split, demote bad broadcasts).
- Shuffle partitions sized via env (32 locally; a real cluster
  overrides to ~2-3x total cores — AQE coalesces the excess).
- UTC session timezone so date parsing / `year()` extraction is
  deterministic across driver locales.
- In-memory catalog + local warehouse so `saveAsTable` works without a
  Hive metastore (replaces the reference's Glue crawlers,
  terraform/modules/catalog/main.tf:37-94).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cgroup_memory_limit(
    proc_cgroup: str = "/proc/self/cgroup", root: str = "/sys/fs/cgroup"
) -> int | None:
    """The tightest memory limit on this process, in bytes, or None.

    A process may sit in a nested cgroup (a systemd slice, a container
    inside a container) whose limit the root files do not show, so the
    process's own cgroup is resolved from ``proc_cgroup`` and every
    ancestor up to ``root`` is read. cgroup v2 (`0::/path`) keeps
    `memory.max` beside the path, "max" meaning no limit; v1 (the
    `memory` controller line) keeps `memory.limit_in_bytes` under
    `memory/`, no limit being a huge number that a min() ignores.
    """
    try:
        with open(proc_cgroup) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    limits = []
    for line in lines:
        _, controllers, path = line.split(":", 2)
        if controllers == "":
            base, name = root, "memory.max"
        elif "memory" in controllers.split(","):
            base, name = os.path.join(root, "memory"), "memory.limit_in_bytes"
        else:
            continue
        parts = [p for p in path.split("/") if p]
        for depth in range(len(parts) + 1):
            try:
                with open(os.path.join(base, *parts[:depth], name)) as f:
                    raw = f.read().strip()
            except OSError:
                continue
            if raw.isdigit():
                limits.append(int(raw))
    return min(limits, default=None)


def get_session(
    app_name: str = "lottery-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Args:
        app_name: Spark application name.
        master: override master URL; defaults to ``local[N]`` with
            ``N = $SPARK_GRAFT_CPUS`` (or ``*``).
        shuffle_partitions: number of shuffle partitions; defaults to
            ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` or 32. On a real
            cluster set ≈ 2-3x total executor cores (AQE coalesces).
        extra_conf: additional ``spark.*`` settings applied last.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    # Local-mode heap: the driver JVM hosts every task slot, so 8g gave
    # each of 32 tasks ~250 MB of unified memory — the sf10 decade
    # probes hit UNABLE_TO_ACQUIRE_MEMORY in sort/agg buffers (r11).
    # But a flat 24g default OOM-kills the JVM on smaller machines
    # (r11 ADVICE), so derive it from physical RAM: ~1/5 of the box,
    # clamped to [4g, 24g] — 24g on the 128 GiB bench box (~750 MB per
    # task slot, the same per-core sizing a real cluster uses), never
    # more than the machine can give. $SPARK_GRAFT_DRIVER_MEM overrides.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem is None:
        try:
            total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (ValueError, OSError, AttributeError):
            total_bytes = 40 * 1024**3  # unknown platform: the historical 8g
        # In a container, physical RAM overstates what the JVM may
        # use (r12 ADVICE, medium): a memory-capped cgroup below
        # ~RAM/5 would let -Xmx exceed the cap and get the JVM
        # OOM-killed. Take min(cgroup limit, physical RAM).
        limit = _cgroup_memory_limit()
        if limit is not None:
            total_bytes = min(total_bytes, limit)
        total_gib = total_bytes / (1024**3)
        driver_mem = f"{max(4, min(24, int(total_gib // 5)))}g"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime shuffle-partition coalescing + skew-join handling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / applyInPandas / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: sorteos-like dims (1 row/draw) always fit.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Partition discovery + pruning friendly scan sizing.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Overwrite only the partitions present in the write, not the table.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # RAM-derived local-mode heap (see driver_mem above).
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # setLogLevel does not silence the `[Stage N:==>` progress bars.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
