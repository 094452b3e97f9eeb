"""Generic source surface (SURVEY §2.1 S9-S12).

Thin wrappers over Spark's built-in readers with the engine's
defaults; no custom DataSource needed anywhere (the reference's
sources are files + a retired JDBC path).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _schema_file(fs, status):
    """The file whose footer Spark's ``mergeSchema=false`` inference
    reads for ``status``: the file itself, else under the directory the
    ``_common_metadata`` summary, then ``_metadata``, then the first
    data file by path. Names starting with ``_`` (except partition
    dirs ``_x=1``) or ``.``, and ``._COPYING_`` files, are skipped the
    way Spark's file index skips them."""
    if not status.isDirectory():
        return status
    leaves, dirs = [], [status]
    while dirs:
        for child in fs.listStatus(dirs.pop().getPath()):
            name = child.getPath().getName()
            hidden = name.startswith(".") or name.endswith("._COPYING_") or (
                name.startswith("_") and "=" not in name
            )
            if name in _SUMMARY_FILES or not hidden:
                (dirs if child.isDirectory() else leaves).append(child)
    leaves.sort(key=lambda s: s.getPath().toString())
    names = [s.getPath().getName() for s in leaves]
    for summary in _SUMMARY_FILES:
        if summary in names:
            return leaves[names.index(summary)]
    if not leaves:
        raise FileNotFoundError(f"no parquet file under {status.getPath()}")
    return leaves[0]


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read from
    one parquet footer on the driver — no Spark job. Spark's inference
    runs a one-task job per read to open the same footer; this opens it
    through the session's Hadoop FS and converts it with Spark's own
    converter under the session's SQL conf, so ``nanosAsLong``,
    ``inferTimestampNTZ``, ``binaryAsString`` and a Spark-written
    file's stored schema apply as they do there. A directory follows
    Spark's ``mergeSchema=false`` rule (see ``_schema_file``). Pass the
    result to ``spark.read.schema(...)``. Every call reads the footer
    again, so a rewritten table is seen at once; a call is about 20
    py4j round trips (about 9 ms on a 4-core machine)."""
    jvm, jsession = spark._jvm, spark._jsparkSession

    def java(name):  # one py4j round trip, not one per package segment
        return getattr(jvm, name)

    spark_parquet = "org.apache.spark.sql.execution.datasources.parquet."
    state = jsession.sessionState()
    conf = state.newHadoopConf()
    hpath = java("org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(conf)
    status = _schema_file(fs, fs.getFileStatus(hpath))
    footer = java(spark_parquet + "ParquetFooterReader").readFooter(
        java("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, conf),
        java("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    schema = java(spark_parquet + "ParquetFileFormat").readSchemaFromFooter(
        java("org.apache.parquet.hadoop.Footer")(status.getPath(), footer),
        java(spark_parquet + "ParquetToSparkSchemaConverter")(state.conf()),
    )
    return T.StructType.fromJson(json.loads(schema.json()))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Multi-path parquet with partition discovery (S11) — replaces
    the notebooks' concat-of-read_parquet loop."""
    return spark.read.parquet(*paths)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV source (S10). Prefer an explicit schema at scale —
    inferSchema costs a full extra pass over the data."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source (S12 — the reference's retired MySQL export path).

    With `partition_column` + bounds the read is split into
    `num_partitions` parallel range queries instead of a single
    connection — the only scalable way to lift a big table over JDBC.
    Needs the target's JDBC driver jar on the classpath; the test
    suite exercises the full path (flat + partitioned-range) against
    the Derby embedded driver Spark already bundles.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower_bound and upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines source. Pass an explicit schema at scale — without
    one Spark runs a full inference pass first; with `multiline`
    each file is ONE JSON document and cannot be split across tasks
    (fine for configs, wrong for data files)."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_audited(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines ingestion that SURVIVES malformed rows instead of
    failing the batch (PERMISSIVE mode): rows that don't parse land
    with every data column NULL and the raw line preserved in
    `corrupt_col` for quarantine/audit — the contract a long-running
    ingest needs when an upstream producer ships a bad deploy.
    Requires an explicit schema (the audit column must be declared;
    schema inference would also silently drop unparseable lines).

    Pair with `malformed_rows` / a filter on `corrupt_col IS NULL`
    to split the stream into clean + quarantine sinks. The clean side
    is scan-shaped; the quarantine side requires a `cache()` first
    (Spark refuses queries that reference ONLY the corrupt-record
    column on an uncached JSON scan —
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), which
    `malformed_rows` performs internally."""
    target = (
        T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    if corrupt_col not in [f.name for f in target.fields]:
        target = target.add(corrupt_col, T.StringType())
    return (
        spark.read.schema(target)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def malformed_rows(df: DataFrame, corrupt_col: str = "_corrupt_record") -> DataFrame:
    """The quarantine side of `read_json_audited`: raw lines that
    failed parsing (audit / replay / upstream bug reports).

    Caches `df` first: Spark 3.x/4.x forbids a query whose only
    referenced column from a raw JSON scan is the internal
    corrupt-record column (AnalysisException
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the scan
    would have to re-parse every row just to learn which failed. The
    cache materializes the parse once; callers splitting into
    clean + quarantine sinks reuse the same cached parse for both
    sides, so this costs nothing extra in the intended pairing."""
    return df.cache().filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)


def read_orc(spark: SparkSession, *paths: str) -> DataFrame:
    """ORC source — same columnar/pushdown properties as parquet
    (predicate pushdown, column pruning, partition discovery)."""
    return spark.read.orc(*paths)


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet read across schema drift: ``mergeSchema=true`` unions
    the footer schemas of every file, so files written before a column
    existed surface it as NULL instead of failing the scan — the
    additive-evolution contract a long-lived ingest table accretes
    (new quality score, new provenance tag).

    Cost model: schema merging reads every file's FOOTER up front
    (metadata pass, not data); at 100 TB-many files pin the merged
    schema once via this reader, persist it, then reopen with an
    explicit `.schema(...)` on the hot path. Renames/type-changes are
    NOT additive — those need `functions/coercion.py::align_schema`."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)

