"""Generic source/sink surface tests (S10-S12, U2)."""

import pytest
from pyspark.sql import types as T

from lottery_end_to_end_etl_data_pipeline_spark.sources.readers import (
    read_csv,
    read_jdbc,
    read_parquet,
)
from lottery_end_to_end_etl_data_pipeline_spark.sources.writers import (
    write_csv,
    write_parquet_flat,
    write_parquet_partitioned,
)


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    write_csv(df, str(tmp_path / "csv"))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    back = read_csv(spark, str(tmp_path / "csv"), schema=schema)
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_multipath_parquet_union(spark, tmp_path):
    spark.createDataFrame([(1,)], ["x"]).write.parquet(str(tmp_path / "p1"))
    spark.createDataFrame([(2,)], ["x"]).write.parquet(str(tmp_path / "p2"))
    got = read_parquet(spark, str(tmp_path / "p1"), str(tmp_path / "p2"))
    assert sorted(r["x"] for r in got.collect()) == [1, 2]


def test_flat_parquet_roundtrip(spark, tmp_path):
    """S5: the flat sink writes no partition directories, and overwrite
    replaces the whole directory."""
    path = str(tmp_path / "flat")
    write_parquet_flat(spark.createDataFrame([(1, "a")], ["id", "name"]), path)
    write_parquet_flat(spark.createDataFrame([(2, "b"), (3, "c")], ["id", "name"]), path)
    assert not [p for p in (tmp_path / "flat").iterdir() if p.is_dir()]
    back = read_parquet(spark, path)
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [(2, "b"), (3, "c")]


def test_partitioned_write_layout(spark, tmp_path):
    df = spark.createDataFrame([(1, 2024), (2, 2025)], ["id", "year"])
    write_parquet_partitioned(df, str(tmp_path / "part"), ["year"])
    assert (tmp_path / "part" / "year=2024").exists()
    # partition pruning read-back
    got = spark.read.parquet(str(tmp_path / "part")).filter("year = 2025")
    assert [r["id"] for r in got.collect()] == [2]


def test_dynamic_overwrite_under_foreign_session(spark, tmp_path):
    """Overwriting one partition must not wipe the others, even when
    the session's partitionOverwriteMode is the static default — the
    writers set dynamic mode per-write (DataFrameWriter option beats
    session conf)."""
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    full = foreign.createDataFrame([(1, 2024), (2, 2025)], ["id", "year"])
    write_parquet_partitioned(full, str(tmp_path / "part"), ["year"])
    # re-run only the 2025 slice
    slice_2025 = foreign.createDataFrame([(3, 2025)], ["id", "year"])
    write_parquet_partitioned(slice_2025, str(tmp_path / "part"), ["year"])
    got = sorted(
        (r["id"], r["year"])
        for r in foreign.read.parquet(str(tmp_path / "part")).collect()
    )
    assert got == [(1, 2024), (3, 2025)]


def test_jdbc_requires_bounds(spark):
    with pytest.raises(ValueError, match="lower_bound and upper_bound"):
        read_jdbc(spark, "jdbc:mysql://x/db", "t", partition_column="id")


def test_json_round_trip(spark, tmp_path):
    from lottery_end_to_end_etl_data_pipeline_spark.sources.readers import read_json
    from lottery_end_to_end_etl_data_pipeline_spark.sources.writers import write_json

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "k long, s string, v double"
    )
    path = str(tmp_path / "j")
    write_json(df, path)
    back = read_json(spark, path, schema="k long, s string, v double")
    assert {(r.k, r.s, r.v) for r in back.collect()} == {(1, "a", 1.5), (2, "b", None)}


def test_orc_round_trip_partitioned_with_pushdown(spark, tmp_path):
    import io, contextlib

    from lottery_end_to_end_etl_data_pipeline_spark.sources.readers import read_orc
    from lottery_end_to_end_etl_data_pipeline_spark.sources.writers import write_orc

    df = spark.createDataFrame(
        [(i, "p%d" % (i % 2), float(i)) for i in range(100)],
        "k long, part string, v double",
    )
    path = str(tmp_path / "o")
    write_orc(df, path, partition_cols=["part"])
    back = read_orc(spark, path).filter("v >= 90.0")
    assert back.count() == 10
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain(True)
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "v" in plan  # predicate reaches the ORC scan


def test_jdbc_round_trip_with_partitioned_read(spark, tmp_path):
    """S12 exercised live: Spark bundles the Derby embedded driver
    (its metastore engine), so the JDBC source/sink path runs for
    real — including the partitioned-range read that splits the
    table into parallel range queries."""
    from pyspark.sql import functions as F

    from lottery_end_to_end_etl_data_pipeline_spark.sources.readers import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.range(0, 500).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v")
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_jdbc")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    plain = read_jdbc(spark, url, "t_jdbc", driver=driver)
    assert plain.count() == 500

    ranged = read_jdbc(
        spark, url, "t_jdbc",
        partition_column="id", num_partitions=4,
        lower_bound=0, upper_bound=500, driver=driver,
    )
    assert ranged.rdd.getNumPartitions() == 4  # really split into range queries
    assert ranged.count() == 500
    assert ranged.agg(F.sum("id")).first()[0] == df.agg(F.sum("id")).first()[0]
