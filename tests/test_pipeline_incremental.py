"""Incremental `run_pipeline`: the driver-side draw discovery, the
no-op short-circuit, and convergence after a run killed part-way.

Every incremental result is compared with a from-scratch run over the
same 5-draw corpus: silver and all 7 gold tables, `exceptAll` empty
both ways."""

import shutil
import threading

import pytest
from pyspark.sql import DataFrameWriter

from lottery_end_to_end_etl_data_pipeline_spark.operators.gold import GOLD_TABLES
from lottery_end_to_end_etl_data_pipeline_spark.plans import pipeline
from lottery_end_to_end_etl_data_pipeline_spark.plans.pipeline import run_pipeline

from tests.fixture_gen import write_fixture_corpus

LAYOUT = "year=*/sorteo=*/*.txt"
TABLES = ["silver/sorteos", "silver/premios"] + [f"gold/{n}" for n in sorted(GOLD_TABLES)]


def _run(spark, root, glob=LAYOUT):
    return run_pipeline(spark, f"{root}/raw/{glob}", f"{root}/silver", f"{root}/gold")


def _file_state(root):
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.rglob("*")
        if p.is_file()
    }


def _assert_same_tables(spark, got, want):
    for table in TABLES:
        a = spark.read.parquet(f"{got}/{table}")
        b = spark.read.parquet(f"{want}/{table}")
        assert a.exceptAll(b).count() == 0, f"{table}: rows missing from the full rebuild"
        assert b.exceptAll(a).count() == 0, f"{table}: rows missing from the incremental run"


@pytest.fixture(scope="module")
def full(spark, tmp_path_factory):
    """A from-scratch run over the 5-draw corpus."""
    root = tmp_path_factory.mktemp("full")
    write_fixture_corpus(root / "raw", n_draws=5, seed=3)
    assert _run(spark, root).new_draws == 5
    return root


def _backfill(spark, root):
    """Silver and gold over the first 4 draws; the 5th not yet arrived."""
    write_fixture_corpus(root / "raw", n_draws=4, seed=3)
    assert _run(spark, root).new_draws == 4
    return root


@pytest.fixture
def backfilled(spark, tmp_path):
    return _backfill(spark, tmp_path)


@pytest.fixture(scope="module")
def weekly(spark, tmp_path_factory):
    """The 5th draw arrives and a weekly run ingests it; records the
    paths handed to `read_raw_draws`."""
    root = _backfill(spark, tmp_path_factory.mktemp("weekly"))
    new_file = write_fixture_corpus(root / "raw", n_draws=5, seed=3)[-1]
    read, calls = pipeline.read_raw_draws, []

    def recording(spark, path):
        calls.append(path)
        return read(spark, path)

    pipeline.read_raw_draws = recording
    try:
        result = _run(spark, root)
    finally:
        pipeline.read_raw_draws = read
    return root, result, calls, new_file


def test_weekly_run_reads_only_the_new_file(weekly):
    _, result, calls, new_file = weekly
    assert (result.new_draws, result.new_premios > 0) == (1, True)
    assert calls == [[str(new_file)]]


def test_weekly_run_equals_full_rebuild(spark, weekly, full):
    _assert_same_tables(spark, weekly[0], full)


def test_noop_run_starts_no_job_and_writes_nothing(spark, weekly):
    root = weekly[0]
    before = _file_state(root / "silver"), _file_state(root / "gold")
    sc = spark.sparkContext
    sc.setJobGroup("noop-probe", "no-op run_pipeline")
    try:
        result = _run(spark, root)
        jobs = list(sc.statusTracker().getJobIdsForGroup("noop-probe"))
        spark.range(1).count()  # the probe itself sees jobs of this group
        probe_jobs = list(sc.statusTracker().getJobIdsForGroup("noop-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (result.new_draws, result.new_premios) == (0, 0)
    assert result.gold_tables == sorted(GOLD_TABLES)
    assert jobs == [] and probe_jobs != []
    assert (_file_state(root / "silver"), _file_state(root / "gold")) == before
    assert spark.table("silver_sorteos").count() == 5


def test_registered_schemas_equal_inferred(spark, weekly):
    root = weekly[0]
    for table in ("sorteos", "premios"):
        inferred = spark.read.parquet(f"{root}/silver/{table}").schema
        assert spark.table(f"silver_{table}").schema == inferred
        parts = {f.name: f.dataType.simpleString() for f in inferred.fields[-2:]}
        assert parts == {"year": "int", "sorteo": "int"}


def test_file_outside_layout_is_ingested_once(spark, backfilled, full, tmp_path_factory):
    """Files in `inbox/` carry no `sorteo=N` segment: every run reads
    them, and the guard drops the draws already in silver."""
    root = backfilled
    draws = write_fixture_corpus(tmp_path_factory.mktemp("texts"), n_draws=5, seed=3)
    inbox = root / "raw" / "inbox"
    inbox.mkdir()
    both = "{" + LAYOUT + ",inbox/*.txt}"

    shutil.copy(draws[1], inbox / "late_copy.txt")  # already in silver
    assert _run(spark, root, both).new_draws == 0
    shutil.copy(draws[4], inbox / "new.txt")
    assert _run(spark, root, both).new_draws == 1
    gold = _file_state(root / "gold")
    assert _run(spark, root, both).new_draws == 0
    assert _file_state(root / "gold") == gold  # silver unchanged: gold not rebuilt
    _assert_same_tables(spark, root, full)


def _kill_at_write(monkeypatch, n, under):
    """Make the ``n``-th parquet write to a path containing ``under``
    raise, as if the run were killed there. Returns the list of paths
    whose write has returned. Gold writes run on concurrent threads, so
    both lists are kept under a lock."""
    write, seen, written, lock = DataFrameWriter.parquet, [], [], threading.Lock()

    def killing(self, path, *args, **kwargs):
        if under in str(path):
            with lock:
                seen.append(path)
                killed = len(seen) == n
            if killed:
                raise RuntimeError(f"killed before writing {path}")
        write(self, path, *args, **kwargs)
        with lock:
            written.append(str(path))

    monkeypatch.setattr(DataFrameWriter, "parquet", killing)
    return written


def _drain_listeners(spark):
    """Wait until the status tracker has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_killed_between_silver_writes_converges(spark, backfilled, full, monkeypatch):
    root = backfilled
    write_fixture_corpus(root / "raw", n_draws=5, seed=3)
    _kill_at_write(monkeypatch, 2, "/silver/")
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, root)
    monkeypatch.undo()
    # premios of the new draw are written, its sorteos partition is not
    assert list((root / "silver" / "premios").glob("year=*/sorteo=3004"))
    assert not list((root / "silver" / "sorteos").glob("year=*/sorteo=3004"))

    assert _run(spark, root).new_draws == 1
    _assert_same_tables(spark, root, full)


def test_killed_during_gold_converges(spark, backfilled, full, monkeypatch):
    """One gold table's write fails while the others run: `run_pipeline`
    raises only once no write is left running, and leaves the marker
    stale, so the next run rebuilds gold."""
    root = backfilled
    write_fixture_corpus(root / "raw", n_draws=5, seed=3)
    written = _kill_at_write(monkeypatch, 1, "/gold/gold_time_series")
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, root)
    assert len([p for p in written if "/gold/" in p]) == len(GOLD_TABLES) - 1
    _drain_listeners(spark)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    monkeypatch.undo()
    silver_ids = "\n".join(map(str, sorted(pipeline._silver_draw_ids(spark, f"{root}/silver"))))
    assert (root / "gold" / pipeline.GOLD_MARKER).read_text() != silver_ids

    assert _run(spark, root).new_draws == 0  # silver is complete
    _assert_same_tables(spark, root, full)


def _node_names(plan):
    """The node names of a Catalyst plan tree, root first."""
    kids = plan.children()
    return [plan.nodeName()] + [n for i in range(kids.size()) for n in _node_names(kids.apply(i))]


def test_weekly_run_job_budget(spark, backfilled, monkeypatch):
    """A weekly +1 run starts at most 23 Spark jobs, all in the
    caller's job group (gold's concurrent writes included), never
    scans silver (its content guard is a filter on the listed ids) and
    derives the premios partitions with no join."""
    root = backfilled
    write_fixture_corpus(root / "raw", n_draws=5, seed=3)
    sc, group = spark.sparkContext, "weekly-probe"
    tracker = sc.statusTracker()

    def group_jobs():
        _drain_listeners(spark)
        return list(tracker.getJobIdsForGroup(group))

    guarded, partition_jobs, written = [], [], []
    filter_unprocessed, with_partitions = pipeline.filter_unprocessed, pipeline.with_partitions
    write_silver = pipeline.write_silver

    def recording_filter(df, done):
        guarded.append(filter_unprocessed(df, done))
        return guarded[-1]

    def counting_partitions(*args, **kwargs):
        before = len(group_jobs())
        out = with_partitions(*args, **kwargs)
        partition_jobs.append(len(group_jobs()) - before)
        return out

    def recording_write(sorteos, premios, *args, **kwargs):
        written.append(premios)
        return write_silver(sorteos, premios, *args, **kwargs)

    monkeypatch.setattr(pipeline, "filter_unprocessed", recording_filter)
    monkeypatch.setattr(pipeline, "with_partitions", counting_partitions)
    monkeypatch.setattr(pipeline, "write_silver", recording_write)
    _drain_listeners(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "weekly +1 run_pipeline")
    try:
        assert _run(spark, root).new_draws == 1
        jobs = group_jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker keeps only the latest jobs, so old ids may drop out
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert 0 < len(jobs) <= 23, jobs
    assert partition_jobs == [1]
    assert len(guarded) == 2
    assert not [f for df in guarded for f in df.inputFiles() if "/silver/" in f]
    [premios] = written
    assert "Join" not in _node_names(premios._jdf.queryExecution().optimizedPlan())


def test_draw_in_two_files_is_rejected_before_any_read(spark, tmp_path, monkeypatch):
    """A new draw id listed under two raw files fails the run before
    any raw file is read, naming the id and both files, and writes
    nothing: neither copy is taken as the draw, so gold cannot count
    its prizes twice."""
    path = write_fixture_corpus(tmp_path / "raw", n_draws=5, seed=3)[0]
    copy = path.parent / "copy.txt"
    shutil.copy(path, copy)
    draw = pipeline._draw_id(str(path))
    reads = []
    monkeypatch.setattr(pipeline, "read_raw_draws", lambda *a: reads.append(a))
    with pytest.raises(ValueError, match=f"sorteo={draw}") as err:
        run_pipeline(spark, f"{tmp_path}/raw/{LAYOUT}", f"{tmp_path}/silver")
    assert str(path) in str(err.value) and str(copy) in str(err.value)
    assert reads == []
    assert not (tmp_path / "silver").exists()
