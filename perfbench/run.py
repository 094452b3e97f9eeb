"""Benchmark entry point.

    python3 perfbench/run.py --workload weekly_ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Everything the run writes (inputs,
silver and gold, Spark's local dirs, warehouse, event log) lives in a
temporary directory under ``.perfbench/`` that is removed at exit; a
traced run leaves its trace file in ``.perfbench/traces/``. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

sys.dont_write_bytecode = True  # the checkout is read, never written, outside .perfbench/
HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SETUP_REPS = 2
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident sizes of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def retained_heap_mb(spark) -> float:
    """JVM heap still in use once full collections stop freeing memory:
    what the session keeps. Spark's context cleaner releases broadcasts
    and shuffles only after a collection finds them unreachable, and on
    its own thread, so one collection is not enough: collect until two
    in a row free less than 1 MB."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used, steady = float("inf"), 0
    for _ in range(12):
        jvm.System.gc()
        time.sleep(0.2)
        now = bean.getHeapMemoryUsage().getUsed() / 2**20
        steady = steady + 1 if now > used - 1 else 0
        used = min(used, now)
        if steady == 2:
            break
    return used


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all of the machine's CPUs so far.
    Stolen ticks are those a virtual CPU wanted to run but the host gave
    its physical CPU to another tenant."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(pids: list[int], timeout: float = 60.0) -> None:
    """Wait for ``pids`` to end; terminate, then kill, what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 10
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not any(_alive(p) for p in pids):
            return


def start_spark(work: Path, trace: bool):
    sys.path[:0] = [str(REPO), str(REPO / "tests"), str(HERE)]
    import lottery_end_to_end_etl_data_pipeline_spark as pkg

    if Path(pkg.__file__).resolve().parent.parent != REPO:
        raise SystemExit(f"package imported from {pkg.__file__}, not this checkout")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
        })
    spark = pkg.get_session(f"perfbench-{os.getpid()}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed(fn):
    """``fn()``, its wall time, and its wall time net of stolen CPU.

    On a shared host the hypervisor takes the machine's CPUs away from
    time to time; a stalled thread counts that as waiting. Net time takes
    out the stolen share of the interval: wall time x busy / (busy +
    stolen), over the ticks of all CPUs, i.e. the time the call would have
    taken had every running thread lost the same share. With no steal
    (bare metal) net and wall time are equal."""
    busy0, stolen0 = cpu_ticks()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    busy1, stolen1 = cpu_ticks()
    busy, stolen = busy1 - busy0, stolen1 - stolen0
    return out, wall, wall * busy / (busy + stolen) if busy + stolen else wall


class Run:
    def __init__(self, workload, seconds: float, tracer):
        self.w, self.seconds, self.tracer = workload, seconds, tracer
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.setup_s: list[float] = []  # net
        self.setup_wall_s: list[float] = []
        self.cycle_s: list[float] = []  # net
        self.op_s: dict[str, list[float]] = {}  # wall
        self.stolen_share = 0.0  # of the measured wall time
        self.peak_rss_mb = self.retained_heap_mb = 0.0

    def fail(self, what: str, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]

    def setup(self) -> None:
        for rep in range(SETUP_REPS):
            problems, wall, net = timed(lambda: self.w.setup(rep))
            self.setup_s.append(net)
            self.setup_wall_s.append(wall)
            log(f"setup {rep}: {wall:.2f}s, net {net:.2f}s")
            self.attempted += 1
            self.fail(f"setup {rep}", problems)

    def measure(self) -> None:
        """Whole cycles, until ``seconds`` have passed."""
        ops, deadline = self.w.cycle(), time.perf_counter() + self.seconds
        total_wall = total_net = 0.0
        while time.perf_counter() < deadline:
            cycle = 0.0
            for op in ops:
                before = op.prepare() if op.prepare else None
                self.attempted += 1
                try:
                    with (self.tracer.span(op.name, op.layer) if self.tracer
                          else contextlib.nullcontext()):
                        out, wall, net = timed(op.run)
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    self.fail(op.name, [traceback.format_exc(limit=3)])
                    continue
                cycle += net
                total_wall, total_net = total_wall + wall, total_net + net
                self.op_s.setdefault(op.name, []).append(wall)
                self.fail(op.name, op.check(before, out))
            self.cycle_s.append(cycle)
            log(f"cycle {len(self.cycle_s) - 1}: net {cycle:.2f}s")
        self.stolen_share = 1 - total_net / total_wall if total_wall else 0.0

    def end_to_end(self) -> dict:
        """Both times are net of stolen CPU (see ``timed``). ``setup_s``
        is the median of the set-ups, the first of which also pays the
        process's warm-up (JIT, codegen, class loading)."""
        return {
            "setup_s": (statistics.median(self.setup_s), "s"),
            "cycle_s": (statistics.median(self.cycle_s), "s"),
            "retained_heap_mb": (self.retained_heap_mb, "MB"),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["weekly_ingest", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    base = Path.cwd() / ".perfbench"
    base.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base))
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # for Spark's Python workers too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_* files
    cwd = os.getcwd()
    os.chdir(work)
    spark = None
    jvm_tree: list[int] = []
    try:
        spark = start_spark(work, bool(args.trace))
        log("session started")
        import layers
        from spans import Tracer
        from workloads import WORKLOADS

        tracer = Tracer(spark) if args.trace else None
        workload = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        run = Run(workload, args.seconds, tracer)
        run.setup()
        run.retained_heap_mb = retained_heap_mb(spark)
        log(f"retained heap after set-up {run.retained_heap_mb:.0f} MB")
        with workload.traced() if tracer else contextlib.nullcontext():
            run.measure()
        for problem in workload.final_check():
            run.fail("final check", [problem])
        log(f"checks done, {run.failed} failed")
        for p in run.problems:
            log(f"check failed: {p}")
        jvm_tree = process_tree(os.getpid())
        run.peak_rss_mb = peak_rss_mb(jvm_tree)
        log(f"peak rss {run.peak_rss_mb:.0f} MB")
        e2e = run.end_to_end()
        stop_spark(spark)
        spark = None
        log("session stopped")
        if args.trace:
            stats = layers.load_event_log(work / "eventlog")
            metrics = layers.per_layer(run, workload, tracer, stats)
            trace_dir = base / "traces"
            trace_dir.mkdir(exist_ok=True)
            out = trace_dir / f"{args.workload}-seed{args.seed}.json"
            layers.write_trace(out, args, run, workload, tracer, stats, e2e, metrics)
            log(f"trace written to {out}")
        else:
            metrics = e2e
    finally:
        if spark is not None:
            if not jvm_tree:
                jvm_tree = process_tree(os.getpid())
            stop_spark(spark)
        stop_processes([p for p in jvm_tree if p != os.getpid()])
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            base.rmdir()  # only if nothing else is left in it
        except OSError:
            pass

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
