"""The benchmark's workloads: set-up, the timed op cycle and the checks.

Each workload is one client in a closed loop: the next op starts when
the previous one has returned. ``Op.prepare`` and ``Op.check`` run
outside the op's clock.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import shutil
import sys
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyarrow.compute as pc
import pyarrow.dataset as ds

from draws import Corpus
from spans import Tracer, catalyst_phases_ms, patched
from tables import write_tables

# Sizes are fixed here, not by options: every run of a workload does
# the same amount of work, whatever the seed.
WEEKLY_CORPUS_DRAWS = 10
ANALYTICS_SF = 0.01
ANALYTICS_MIX = [
    "star_join_revenue",
    "gold_draw_summary_shape",
    "gold_frequency_shape",
    "gold_terminations_shape",
    "gold_letters_shape",
    "gold_geo_shape",
    "gold_leaderboard_shape",
    "gold_time_series_shape",
    "topk_per_group_window",
    "iqr_filter",
    "explode_tokens",
    "json_extract",
    "reconcile_diff",
    "dedup_minhash_lsh",
    "knn_brute_cosine",
    "sessionize_batch_30m",
    "cohort_retention",
    "funnel_conversion",
    "bronze_parser_roundtrip",
]

# The names plans.pipeline calls, by the layer (module) they belong to.
PIPELINE_CALLS = {
    "read_raw_draws": "sources.bronze",
    "parse_draws": "sources.bronze",
    "conform_sorteos": "operators.silver",
    "conform_premios": "operators.silver",
    "filter_unprocessed": "operators.silver",
    "with_partitions": "operators.silver",
    "write_silver": "operators.silver",
    "register_silver": "operators.silver",
}


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[], object]
    check: Callable[[object, object], list[str]]  # (prepared, output) -> failures
    prepare: Callable[[], object] | None = None


def file_state(root: Path) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``root``."""
    if not root.exists():
        return {}
    return {
        str(p.relative_to(root)): (st.st_size, st.st_mtime_ns)
        for p in root.rglob("*")
        if p.is_file() and (st := p.stat())
    }


def _written(before: dict, after: dict) -> list[str]:
    return [k for k, v in after.items() if before.get(k) != v]


def _count_rows(path: Path) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


class WeeklyIngest:
    """Silver and gold over a growing corpus; a cycle adds one draw and
    runs the pipeline, then runs it again with nothing new."""

    name = "weekly_ingest"

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer | None):
        from lottery_end_to_end_etl_data_pipeline_spark.plans import pipeline

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.pipeline = pipeline
        self.root: Path | None = None
        self.io: list[dict] = []  # per timed op: files scanned and written
        self._scans: list[int] = []

    @property
    def silver(self) -> Path:
        return self.root / "silver"

    @property
    def gold(self) -> Path:
        return self.root / "gold"

    def _run_pipeline(self):
        return self.pipeline.run_pipeline(
            self.spark, self.corpus.glob, str(self.silver), str(self.gold)
        )

    def setup(self, rep: int) -> list[str]:
        """A fresh corpus, then its first run: a backfill into empty
        silver and gold. The first set-up of a process then also runs one
        cycle: the warm-up."""
        if self.root is not None:
            shutil.rmtree(self.root)
        self.root = self.work / f"pipeline-{rep}"
        self.corpus = Corpus(self.root / "raw", self.seed)
        self.corpus.grow_to(WEEKLY_CORPUS_DRAWS)
        result = self._run_pipeline()
        failed = self._check_batch(result, WEEKLY_CORPUS_DRAWS, self.corpus.n_premios)
        if rep == 0:
            draw, result = self._weekly()
            failed += self._check_batch(result, 1, draw.n_premios)
            failed += self._check_batch(self._run_pipeline(), 0, 0)
        return failed

    def cycle(self) -> list[Op]:
        return [
            Op("weekly", "plans.pipeline", self._weekly, self._check_weekly, self._snapshot),
            Op("noop", "plans.pipeline", self._run_pipeline, self._check_noop, self._snapshot),
        ]

    def _weekly(self):
        draw = self.corpus.append()
        return draw, self._run_pipeline()

    def _snapshot(self) -> dict:
        return {"silver": file_state(self.silver), "gold": file_state(self.gold),
                "scans": len(self._scans)}

    def _check_weekly(self, before, out) -> list[str]:
        draw, result = out
        self._record_io("weekly", before, result)
        return self._check_batch(result, 1, draw.n_premios)

    def _check_noop(self, before, result) -> list[str]:
        self._record_io("noop", before, result)
        failed = self._check_batch(result, 0, 0)
        if set(file_state(self.silver)) != set(before["silver"]):
            failed.append("a no-op run changed the set of silver files")
        return failed

    def _check_batch(self, result, n_draws: int, n_premios: int) -> list[str]:
        failed = []
        if (result.new_draws, result.new_premios) != (n_draws, n_premios):
            failed.append(f"batch ({result.new_draws}, {result.new_premios}) "
                          f"!= ({n_draws}, {n_premios})")
        return failed + self.check_tables()

    def check_tables(self) -> list[str]:
        """Silver row counts and the gold monto total against the corpus."""
        failed = []
        want = (len(self.corpus.draws), self.corpus.n_premios)
        got = (_count_rows(self.silver / "sorteos"), _count_rows(self.silver / "premios"))
        if got != want:
            failed.append(f"silver rows {got} != {want}")
        summary = ds.dataset(self.gold / "gold_draw_summary", format="parquet")
        total = pc.sum(summary.to_table(columns=["total_monto"])["total_monto"]).as_py()
        if total is None or round(total * 100) != self.corpus.monto_cents:
            failed.append(f"gold total_monto {total} != {self.corpus.monto_cents / 100}")
        return failed

    def final_check(self) -> list[str]:
        return []

    def stored_bytes_per_raw_byte(self) -> float:
        stored = sum(v[0] for d in (self.silver, self.gold) for v in file_state(d).values())
        return stored / self.corpus.raw_bytes

    def _record_io(self, op: str, before: dict, result) -> None:
        silver, gold = file_state(self.silver), file_state(self.gold)
        silver_written = _written(before["silver"], silver)
        gold_written = _written(before["gold"], gold)
        self.io.append({
            "op": op,
            "new_draws": result.new_draws,
            "files_scanned": sum(self._scans[before["scans"]:]),
            "silver_files_written": len(silver_written),
            "silver_bytes_written": sum(silver[k][0] for k in silver_written),
            "silver_partition_dirs": len({k.rsplit("/", 1)[0] for k in silver
                                          if "/sorteo=" in k}),
            "gold_files_written": len(gold_written),
            "gold_tables_written": len({k.split("/")[0] for k in gold_written}),
        })

    @contextlib.contextmanager
    def traced(self):
        """Spans around every name plans.pipeline calls, and a count of
        the raw files each ``read_raw_draws`` call was asked to scan."""
        from lottery_end_to_end_etl_data_pipeline_spark.operators import gold

        read = self.pipeline.read_raw_draws

        def counted(spark, path):
            paths = path if isinstance(path, list) else [path]
            self._scans.append(sum(len(glob.glob(p)) for p in paths))
            return read(spark, path)

        self.pipeline.read_raw_draws = counted
        try:
            with patched(self.pipeline, PIPELINE_CALLS, self.tracer), \
                    patched(gold, {"build_all": "operators.gold"}, self.tracer):
                yield
        finally:
            self.pipeline.read_raw_draws = read


class AnalyticsMix:
    """A read-only pass over a fixed, ordered list of catalog entries."""

    name = "analytics_mix"

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer | None):
        from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (
            ORACLE,
            QUERIES,
        )

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.queries, self.oracle = QUERIES, ORACLE
        self.sf_dir: Path | None = None
        self.catalyst_ms: dict[str, list[dict]] = {}  # traced runs only
        self.results: dict[str, tuple[list, list]] = {}  # first timed result per entry

    def setup(self, rep: int) -> list[str]:
        """Fresh tables, then every entry built. The first set-up of a
        process also runs every entry once: the warm-up pass."""
        if self.sf_dir is not None:
            shutil.rmtree(self.sf_dir)
        self.sf_dir = self.work / f"tables-{rep}"
        write_tables(self.sf_dir, self.seed, ANALYTICS_SF)
        for name in ANALYTICS_MIX:
            df = self.queries[name](self.spark, str(self.sf_dir))
            if rep == 0:
                df.collect()
        return []

    def cycle(self) -> list[Op]:
        return [Op(name, "plans.testdata_queries", self._runner(name), self._keeper(name))
                for name in ANALYTICS_MIX]

    def _runner(self, name: str):
        span = self.tracer.span if self.tracer else None

        def run():
            if span is None:
                df = self.queries[name](self.spark, str(self.sf_dir))
                return df.columns, df.collect()
            with span("construct", "plans.testdata_queries"):
                df = self.queries[name](self.spark, str(self.sf_dir))
            with span("execute", "plans.testdata_queries"):
                rows = df.collect()
            self.catalyst_ms.setdefault(name, []).append(catalyst_phases_ms(df))
            return df.columns, rows
        return run

    def _keeper(self, name: str):
        def keep(_before, out) -> list[str]:
            self.results.setdefault(name, out)
            return []
        return keep

    def final_check(self) -> list[str]:
        """Each entry's first timed result against its DuckDB oracle."""
        import duckdb

        normalize = _check_oracle_module().normalize
        con = duckdb.connect()
        try:
            for path in self.sf_dir.glob("*.parquet"):
                con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
            failed = []
            for name, (cols, rows) in self.results.items():
                rel = con.sql(self.oracle[name])
                want_cols = [c.lower() for c in rel.columns]
                got_cols = [c.lower() for c in cols]
                if (sorted(got_cols), normalize(got_cols, [tuple(r) for r in rows])) != (
                        sorted(want_cols), normalize(want_cols, rel.fetchall())):
                    failed.append(f"{name} differs from its oracle")
            return failed
        finally:
            con.close()

    def traced(self):
        return contextlib.nullcontext()  # its spans are opened by the ops themselves


def _check_oracle_module():
    """``tools/check_oracle.py``, imported by path, unchanged."""
    path = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (WeeklyIngest, AnalyticsMix)}
