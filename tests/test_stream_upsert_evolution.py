"""Streaming foreachBatch upsert + schema-evolution readers."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from lottery_end_to_end_etl_data_pipeline_spark.functions.coercion import align_schema
from lottery_end_to_end_etl_data_pipeline_spark.sources.readers import read_parquet_evolving
from lottery_end_to_end_etl_data_pipeline_spark.streaming.incremental import (
    stream_upsert,
)

SCHEMA = "k LONG, v STRING, seq LONG, p STRING"


def _write_batch(spark, src_dir, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src_dir)
    )


def _read_stream(spark, src_dir):
    return spark.readStream.schema(SCHEMA).parquet(str(src_dir))


def test_stream_upsert_merges_batches(spark, tmp_path):
    src, ckpt, target = tmp_path / "src", tmp_path / "ckpt", tmp_path / "t"
    # Drain 1: keys 1-4 inserted.
    _write_batch(
        spark, src, [(k, "a", 1, str(k % 2)) for k in (1, 2, 3, 4)]
    )
    q = stream_upsert(
        _read_stream(spark, src), str(target), ["k"], str(ckpt), partition_col="p"
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(target)).collect()}
    assert got == {1: "a", 2: "a", 3: "a", 4: "a"}

    # Drain 2: keys 3-6 updated/inserted; checkpoint skips the old file.
    _write_batch(
        spark, src, [(k, "b", 2, str(k % 2)) for k in (3, 4, 5, 6)]
    )
    q2 = stream_upsert(
        _read_stream(spark, src), str(target), ["k"], str(ckpt), partition_col="p"
    )
    q2.awaitTermination(120)
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(target)).collect()}
    assert got == {1: "a", 2: "a", 3: "b", 4: "b", 5: "b", 6: "b"}


def test_stream_upsert_in_batch_dup_resolution(spark, tmp_path):
    src, ckpt, target = tmp_path / "src", tmp_path / "ckpt", tmp_path / "t"
    # One drain delivers key 7 twice (replayed source); order_col picks
    # the max-seq row deterministically.
    _write_batch(spark, src, [(7, "old", 1, "1"), (7, "new", 2, "1"), (8, "x", 1, "0")])
    q = stream_upsert(
        _read_stream(spark, src),
        str(target),
        ["k"],
        str(ckpt),
        partition_col="p",
        order_col="seq",
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(target)).collect()}
    assert got == {7: "new", 8: "x"}


def test_read_parquet_evolving_fills_missing_columns(spark, tmp_path):
    old = tmp_path / "tbl" / "batch1.dir"
    new = tmp_path / "tbl" / "batch2.dir"
    spark.createDataFrame([(1, "a")], "id LONG, txt STRING").write.parquet(str(old))
    spark.createDataFrame(
        [(2, "b", 0.9)], "id LONG, txt STRING, quality DOUBLE"
    ).write.parquet(str(new))
    df = read_parquet_evolving(spark, str(tmp_path / "tbl" / "*"))
    assert set(df.columns) == {"id", "txt", "quality"}
    rows = {r["id"]: r["quality"] for r in df.collect()}
    # Pre-evolution file surfaces the new column as NULL.
    assert rows[1] is None and rows[2] == 0.9


def test_align_schema_projects_and_casts(spark):
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "2", "drop-me")], "id INT, score STRING, extra STRING"
    )
    out = align_schema(df, target)
    assert [f.simpleString() for f in out.schema.fields] == [
        "id:bigint",
        "score:double",
        "tag:string",
    ]
    row = out.collect()[0]
    assert row["id"] == 1 and row["score"] == 2.0 and row["tag"] is None
    # Round-trips into an existing table contract: union is legal.
    assert out.unionByName(out).count() == 2


def test_align_then_upsert_integration(spark, tmp_path):
    """Heterogeneous batch conformed to the table schema, then merged."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.maintenance import (
        upsert_by_key,
    )

    target_path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 0.5, "x")], "id LONG, score DOUBLE, tag STRING"
    ).write.parquet(target_path)
    target_schema = spark.read.parquet(target_path).schema
    batch = spark.createDataFrame([(1, "0.9"), (2, "0.7")], "id INT, score STRING")
    conformed = align_schema(batch, target_schema)
    upsert_by_key(spark, target_path, conformed, ["id"])
    got = {
        r["id"]: (r["score"], r["tag"])
        for r in spark.read.parquet(target_path).collect()
    }
    assert got == {1: (0.9, None), 2: (0.7, None)}
