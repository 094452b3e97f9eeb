"""Silver conformance + partitioned writes + incremental guard.

Reference parity (`transformer.py:151-266`, SURVEY §1.2/§2.1):
- premios: N/A-literal → NULL, numero_sorteo long default 0,
  numero_premiado nullable long, monto double default 0.0, strings
  nullable (transformer.py:166-175).
- sorteos: reintegros CSV split into 3 nullable longs padded with
  NULLs (transformer.py:182-204), prize numbers nullable longs,
  dates dd/MM/yyyy coerce-to-NULL (transformer.py:213-222).
- partitions: year from fecha_sorteo, with a hard error when a draw
  has no parseable date (transformer.py:225-229). Each premio row
  carries its draw's fecha_sorteo from the parse, so both tables take
  the year from their own rows, as the reference does per file.
- writes: Hive-partitioned parquet `year=/sorteo=/`
  (transformer.py:253-258); the flat "simple" copy
  (transformer.py:244-248) is `sources/writers.py::write_parquet_flat`.
- incremental guard (S4): the reference set-differences discovered
  draw ids against already-processed ones (s3_utils.py:46-58,
  transformer.py:92-118). `plans.pipeline` does the same on the driver
  from the `sorteo=N` path segments, and `filter_unprocessed` drops the
  parsed rows of those listed ids, for files outside that layout: a
  filter, so silver is never scanned.

Scale notes: `partitionBy("year", "sorteo")` gives automatic partition
pruning downstream; dynamic partition overwrite keeps re-runs
idempotent without the reference's purge Lambda (SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lottery_end_to_end_etl_data_pipeline_spark.functions.coercion import (
    coerce_date_ddmmyyyy,
    coerce_double,
    coerce_long,
    normalize_na,
)
from lottery_end_to_end_etl_data_pipeline_spark.schemas import (
    PREMIOS_COLUMNS,
    PREMIOS_SCHEMA,
    SILVER_PARTITION_FIELDS,
    SORTEOS_COLUMNS,
    SORTEOS_SCHEMA,
)
from lottery_end_to_end_etl_data_pipeline_spark.sources.writers import (
    write_parquet_partitioned,
)


def conform_premios(premios_raw: DataFrame) -> DataFrame:
    """Apply the premios Silver contract (transformer.py:164-175). The
    draw's fecha_sorteo rides along for `with_partitions`; `write_silver`
    does not write it."""
    df = premios_raw
    for c in ("letras", "vendedor", "ciudad", "departamento"):
        df = df.withColumn(c, normalize_na(F.col(c)))
    return df.select(
        coerce_long("numero_sorteo", default=0).alias("numero_sorteo"),
        coerce_long("numero_premiado").alias("numero_premiado"),
        F.col("letras").cast("string").alias("letras"),
        coerce_double("monto", default=0.0).alias("monto"),
        F.col("vendedor").cast("string").alias("vendedor"),
        F.col("ciudad").cast("string").alias("ciudad"),
        F.col("departamento").cast("string").alias("departamento"),
        coerce_date_ddmmyyyy("fecha_sorteo").alias("fecha_sorteo"),
    )


def conform_sorteos(sorteos_raw: DataFrame) -> DataFrame:
    """Apply the sorteos Silver contract (transformer.py:179-222).

    `reintegros` arrives as a comma-joined string ("6,0,2"); split and
    pad to exactly 3 nullable longs like the reference's expand+pad
    (transformer.py:182-196).
    """
    parts = F.split(F.col("reintegros").cast("string"), ",")
    return sorteos_raw.select(
        coerce_long("numero_sorteo", default=0).alias("numero_sorteo"),
        F.col("tipo_sorteo").cast("string").alias("tipo_sorteo"),
        coerce_date_ddmmyyyy("fecha_sorteo").alias("fecha_sorteo"),
        coerce_date_ddmmyyyy("fecha_caducidad").alias("fecha_caducidad"),
        coerce_long("primer_premio").alias("primer_premio"),
        coerce_long("segundo_premio").alias("segundo_premio"),
        coerce_long("tercer_premio").alias("tercer_premio"),
        coerce_long(F.get(parts, 0)).alias("reintegro_primer_premio"),
        coerce_long(F.get(parts, 1)).alias("reintegro_segundo_premio"),
        coerce_long(F.get(parts, 2)).alias("reintegro_tercer_premio"),
    )


def with_partitions(sorteos: DataFrame, premios: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive the (year, sorteo) partition columns of both tables from
    each row's own fecha_sorteo and numero_sorteo (transformer.py:225-230):
    a per-row projection, no join.

    The reference refuses to write a draw whose fecha_sorteo could not
    be parsed (cannot derive the year partition); the check collects
    only the offending draw ids.
    """
    bad = (
        sorteos.filter(F.col("fecha_sorteo").isNull())
        .select("numero_sorteo")
        .limit(20)
        .collect()
    )
    if bad:
        ids = ", ".join(str(r["numero_sorteo"]) for r in bad)
        raise ValueError(
            f"Invalid fecha_sorteo for sorteo={ids}. Cannot derive year partition."
        )
    partitions = {"year": F.year("fecha_sorteo").cast("int"), "sorteo": F.col("numero_sorteo")}
    return sorteos.withColumns(partitions), premios.withColumns(partitions)


def filter_unprocessed(discovered: DataFrame, done: Collection[int]) -> DataFrame:
    """S4 incremental guard on content: drop the rows whose parsed draw
    id is in ``done``, the ids listed from silver's `sorteo=N`
    partition directories (`sorteo` is `numero_sorteo`, see
    `with_partitions`). Lists over 10 ids become a hash `InSet`."""
    if not done:
        return discovered
    return discovered.filter(~F.col("numero_sorteo").isin(sorted(done)))


def write_silver(
    sorteos: DataFrame,
    premios: DataFrame,
    silver_path: str,
    mode: str = "overwrite",
) -> None:
    """S6 sink: silver as Hive-partitioned (year, sorteo) parquet,
    through `sources/writers.py::write_parquet_partitioned`, whose
    per-write dynamic partition overwrite makes incremental re-runs
    rewrite only the partitions present in the batch. The reference's
    flat per-draw 'simple bucket' (S5) is
    `sources/writers.py::write_parquet_flat`.

    Premios are written before sorteos, so a `sorteo=N` partition of
    silver sorteos means draw N is complete: a run killed between the
    two writes leaves N out of sorteos, and the next run (which takes
    the processed ids from sorteos) writes N again, overwriting its
    premios partition."""
    for name, df, columns in (
        ("premios", premios, PREMIOS_COLUMNS),
        ("sorteos", sorteos, SORTEOS_COLUMNS),
    ):
        write_parquet_partitioned(
            df.select(*columns, "year", "sorteo"),
            f"{silver_path}/{name}",
            ["year", "sorteo"],
            mode,
        )


_SILVER_SCHEMAS = {
    name: T.StructType(schema.fields + SILVER_PARTITION_FIELDS)
    for name, schema in (("sorteos", SORTEOS_SCHEMA), ("premios", PREMIOS_SCHEMA))
}


def read_silver(spark: SparkSession, silver_path: str, table: str) -> DataFrame:
    """One silver table (`sorteos` or `premios`) with its schema
    supplied, so no schema-inference job reads parquet footers. The
    listing and partition discovery run on the driver while no
    directory level holds more than
    `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    entries; above that Spark lists in a job."""
    return spark.read.schema(_SILVER_SCHEMAS[table]).parquet(f"{silver_path}/{table}")


def register_silver(spark: SparkSession, silver_path: str) -> None:
    """Catalog registration replacing the Glue crawlers
    (catalog/main.tf:37-94): temp views over the partitioned layout,
    with partition discovery + pruning for free (see `read_silver`)."""
    for table in ("sorteos", "premios"):
        read_silver(spark, silver_path, table).createOrReplaceTempView(f"silver_{table}")
