"""Batch pipeline runner — replaces the reference's Step Functions
orchestration (SURVEY §3.1) with one driver program over one session:

    list raw + silver on the driver → new files only → parse →
    conform → silver writes → catalog registration → gold if silver
    changed

The incremental decision is the reference's own driver-side set
difference (S3/S4, s3_utils.py:46-58), made from file listings with
no Spark job: a raw file's draw id is its `sorteo=N` path segment, the
processed ids are silver's `sorteos/year=*/sorteo=*` partition
directories, and only raw files whose id is not in silver are read. A
file outside that layout is always read; `filter_unprocessed` (S4)
then drops the parsed rows of any listed id, so silver is listed but
never scanned.

Idempotent and re-runnable: writes use dynamic partition overwrite
(no purge machinery), premios before sorteos, so a silver sorteos
partition means its draw is complete. Gold is rebuilt with overwrite
semantics, its 7 writes overlapping; once all of them are written,
the `_silver_draws` marker under `gold_path` lists the silver draw ids
they were built from, and gold is rebuilt only when that list differs
from silver's. A run with no new file and current gold registers the
silver views and returns: it reads, writes and rebuilds nothing.

As in the reference, a raw file missing a sentinel or a required
header field (`parse_draws`), or a draw whose fecha_sorteo does not
parse (`with_partitions`), fails the run before anything is written.
So does a new draw id listed under more than one raw file, before any
file is read: neither copy is taken as the draw.
Each premio row carries its draw's fecha_sorteo from the parse, so both
silver tables take their year partition from their own rows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.operators import gold as gold_mod
from lottery_end_to_end_etl_data_pipeline_spark.operators.quality import (
    observed,
    validate_silver,
)
from lottery_end_to_end_etl_data_pipeline_spark.operators.silver import (
    conform_premios,
    conform_sorteos,
    filter_unprocessed,
    register_silver,
    with_partitions,
    write_silver,
)
from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import (
    parse_draws,
    read_raw_draws,
)

GOLD_MARKER = "_silver_draws"  # `_`-prefixed: Spark and Hadoop readers skip it
_DRAW_ID = re.compile(r"(?:^|/)sorteo=(-?\d+)(?=/|$)")


@dataclass
class PipelineResult:
    new_draws: int
    new_premios: int
    gold_tables: list[str] = field(default_factory=list)


def _fs_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _list(spark: SparkSession, pattern: str) -> list[str]:
    """Paths matching the glob ``pattern``, listed on the driver, in
    the form the pattern used: scheme-qualified only if it was."""
    fs, p = _fs_path(spark, pattern)
    qualified = p.toUri().getScheme() is not None
    return [
        s.getPath().toString() if qualified else s.getPath().toUri().getPath()
        for s in fs.globStatus(p) or []
    ]


def _draw_id(path: str) -> int | None:
    """The draw id of the last `sorteo=N` segment of ``path``, if any."""
    ids = _DRAW_ID.findall(path)
    return int(ids[-1]) if ids else None


def _silver_draw_ids(spark: SparkSession, silver_path: str) -> set[int]:
    dirs = _list(spark, f"{silver_path}/sorteos/year=*/sorteo=*")
    return {i for i in map(_draw_id, dirs) if i is not None}


def _read_text(spark: SparkSession, path: str) -> str | None:
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p = _fs_path(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def run_pipeline(
    spark: SparkSession,
    raw_glob: str,
    silver_path: str,
    gold_path: str | None = None,
    dq_enforce: bool = False,
) -> PipelineResult:
    """One end-to-end batch run (the weekly cron body, minus AWS).

    ``dq_enforce=True`` runs the silver expectation suite as a
    blocking gate before any write (the reference's planned PR-033
    wiring) — a DataQualityError aborts the run with nothing written.
    """
    raw_files = _list(spark, raw_glob)
    fs, silver_sorteos = _fs_path(spark, f"{silver_path}/sorteos")
    silver_exists = fs.exists(silver_sorteos)
    done = _silver_draw_ids(spark, silver_path)
    new_files = [f for f in raw_files if _draw_id(f) not in done]
    files_of: dict[int, list[str]] = {}
    for f in new_files:
        if (i := _draw_id(f)) is not None:
            files_of.setdefault(i, []).append(f)
    split = "; ".join(
        f"sorteo={i}: {', '.join(fs)}" for i, fs in sorted(files_of.items()) if len(fs) > 1
    )
    if split:
        raise ValueError(f"More than one raw file for {split}. Cannot tell which holds the draw.")

    n_draws = n_premios = 0
    if new_files or not silver_exists:
        # A glob that matched nothing reaches Spark as given, which
        # reports the missing path as it always has.
        raw = read_raw_draws(
            spark, raw_glob if len(new_files) == len(raw_files) else new_files
        )
        sorteos_raw, premios_raw = parse_draws(raw)
        sorteos = conform_sorteos(sorteos_raw)
        premios = conform_premios(premios_raw)
        sorteos = filter_unprocessed(sorteos, done)
        premios = filter_unprocessed(premios, done)

        sorteos, premios = with_partitions(sorteos, premios)
        if dq_enforce:
            validate_silver(sorteos, premios, enforce=True)

        # The parse lineage runs in the checks of parse_draws and
        # with_partitions (one job each) and in the silver writes; the
        # batch sizes come from Observations riding the writes, not
        # from extra counts. An empty batch's dynamic-partition write
        # touches no partition.
        sorteos, s_obs = observed(sorteos, "sorteos_write", {"n_rows": F.count(F.lit(1))})
        premios, p_obs = observed(premios, "premios_write", {"n_rows": F.count(F.lit(1))})
        write_silver(sorteos, premios, silver_path, mode="overwrite")
        n_draws = int(s_obs.get["n_rows"])
        n_premios = int(p_obs.get["n_rows"])

    register_silver(spark, silver_path)
    result = PipelineResult(new_draws=n_draws, new_premios=n_premios)

    if gold_path is not None:
        built_from = "\n".join(str(i) for i in sorted(_silver_draw_ids(spark, silver_path)))
        marker = f"{gold_path}/{GOLD_MARKER}"
        if _read_text(spark, marker) != built_from:
            gold_mod.build_all(
                spark.table("silver_premios"), spark.table("silver_sorteos"), gold_path
            )
            _write_text(spark, marker, built_from)
        result.gold_tables = sorted(gold_mod.GOLD_TABLES)
    return result
