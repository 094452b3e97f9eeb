"""Multimodal plumbing + streaming extension tests."""

import pytest
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.operators.multimodal import (
    attach_media_meta,
    binary_stats,
    frame_sample,
    image_features,
    image_features_arrow,
)
from lottery_end_to_end_etl_data_pipeline_spark.streaming.incremental import (
    run_available_now,
    stream_raw_draws,
    windowed_event_counts,
)

from tests.fixture_gen import write_fixture_corpus


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, bytes(range(i % 7, i % 7 + 40)) * (i + 1)) for i in range(5)]
    return spark.createDataFrame(rows, ["media_id", "content"])


def test_attach_media_meta(media):
    got = attach_media_meta(media, source="unit").collect()
    assert all(r["meta"]["n_bytes"] == len(r["content"]) for r in got)
    assert got[0]["meta"]["source"] == "unit"


def test_image_features_fake_decode_deterministic(media):
    a = {r["media_id"]: r for r in image_features(media).collect()}
    b = {r["media_id"]: r for r in image_features(media).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert (a[k]["width"], a[k]["height"], a[k]["phash"]) == (
            b[k]["width"], b[k]["height"], b[k]["phash"],
        )
        assert 64 <= a[k]["width"] < 256


def test_image_features_arrow_parity(media):
    # The Arrow-transport kernel is feature-identical to the pandas
    # one — same schema, same values, different batch container.
    pandas_out = sorted(map(tuple, image_features(media).collect()))
    arrow_out = sorted(map(tuple, image_features_arrow(media).collect()))
    assert pandas_out == arrow_out
    with pytest.raises(Exception, match="NotImplementedError|decode kernel"):
        image_features_arrow(media, decode="strict").collect()


def test_image_features_strict_raises(media):
    with pytest.raises(Exception, match="NotImplementedError|decode kernel"):
        image_features(media, decode="strict").collect()


def test_frame_sample_fanout(media):
    frames = frame_sample(media, every_n_bytes=64, max_frames=3).collect()
    assert len(frames) > media.count()  # 1→N fan-out
    assert all(len(r["frame_bytes"]) <= 64 for r in frames)


def test_binary_stats(media):
    got = binary_stats(media).collect()
    assert all(r["n_bytes"] > 0 and len(r["content_md5"]) == 32 for r in got)


def test_streaming_available_now_ingest(spark, tmp_path):
    """Drain the raw dir through Structured Streaming, re-using the
    batch parse path via foreachBatch — the S4 upgrade."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.silver import (
        conform_premios,
        conform_sorteos,
        with_partitions,
        write_silver,
    )
    from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import parse_draws

    write_fixture_corpus(tmp_path / "raw", n_draws=3, seed=5)

    def ingest(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        s_raw, p_raw = parse_draws(batch_df)
        s, p = with_partitions(conform_sorteos(s_raw), conform_premios(p_raw))
        write_silver(s, p, str(tmp_path / "silver"), mode="append")

    stream = stream_raw_draws(spark, str(tmp_path / "raw" / "*" / "*"))
    q = run_available_now(stream, ingest, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "silver/sorteos")).count() == 3
    # second drain: checkpoint remembers the files → no new rows
    q2 = run_available_now(
        stream_raw_draws(spark, str(tmp_path / "raw" / "*" / "*")),
        ingest,
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "silver/sorteos")).count() == 3
    # third drain after a NEW draw arrives: exactly the delta is ingested
    import random

    from tests.fixture_gen import make_draw_text

    new = tmp_path / "raw" / "year=2025" / "sorteo=3099" / "sorteo_3099.txt"
    new.parent.mkdir(parents=True)
    new.write_text(
        make_draw_text(random.Random(99), 3099, "05/06/2025", "05/09/2025"),
        encoding="utf-8",
    )
    q3 = run_available_now(
        stream_raw_draws(spark, str(tmp_path / "raw" / "*" / "*")),
        ingest,
        str(tmp_path / "ckpt"),
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "silver/sorteos")).count() == 4


def test_windowed_event_counts_batch_degrade(spark):
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1, 10, 5), "click", 1.0),
        (datetime.datetime(2024, 1, 1, 10, 55), "click", 2.0),
        (datetime.datetime(2024, 1, 1, 11, 5), "view", 3.0),
    ]
    events = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events).collect()
    }
    assert got[(10, "click")] == (2, 3.0)
    assert got[(11, "view")] == (1, 3.0)


def test_sessionize_stateful_streaming(spark, tmp_path):
    """applyInPandasWithState sessionization: session closed by an
    in-stream gap is emitted; watermark-timeout closes the rest."""
    import datetime
    import json

    from lottery_end_to_end_etl_data_pipeline_spark.streaming.incremental import sessionize

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(name, rows):
        (tmp_path / "in").mkdir(exist_ok=True)
        with open(tmp_path / "in" / name, "w") as f:
            for ts, uid, v in rows:
                f.write(json.dumps({"ts": ts.isoformat(), "user_id": uid, "value": v}) + "\n")

    # batch 1: user 7 has two events 5 min apart (one session), then
    # batch 2 arrives 3 h later → in-stream gap closes session 1 and
    # the advancing watermark times out nothing else yet.
    write_batch("b1.json", [(t0, 7, 1.0), (t0 + datetime.timedelta(minutes=5), 7, 2.0)])
    write_batch("b2.json", [(t0 + datetime.timedelta(hours=3), 7, 5.0)])

    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(
        str(tmp_path / "in")
    )
    sessions = sessionize(stream, gap_seconds=1800, watermark="1 minute")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM sessions_out ORDER BY session_start").collect()
    assert len(got) >= 1
    first = got[0]
    assert first["user_id"] == 7
    assert first["n_events"] == 2
    assert first["sum_value"] == 3.0
    assert first["session_start"] == t0
    assert first["session_end"] == t0 + datetime.timedelta(minutes=5)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark
    window are dropped, state stays bounded (the forever-running
    ingest contract)."""
    import datetime
    import json

    from lottery_end_to_end_etl_data_pipeline_spark.streaming.incremental import stream_dedup

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    (tmp_path / "in").mkdir()
    rows = [
        (t0, "evt-1", 1.0),
        (t0 + datetime.timedelta(seconds=30), "evt-1", 1.0),  # dup within watermark
        (t0 + datetime.timedelta(minutes=2), "evt-2", 2.0),
    ]
    with open(tmp_path / "in" / "b1.json", "w") as f:
        for ts, eid, v in rows:
            f.write(json.dumps({"ts": ts.isoformat(), "event_id": eid, "value": v}) + "\n")

    schema = "ts TIMESTAMP, event_id STRING, value DOUBLE"
    stream = spark.readStream.schema(schema).json(str(tmp_path / "in"))
    deduped = stream_dedup(stream, ["event_id"], watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT event_id FROM dedup_out ORDER BY event_id").collect()
    assert [r.event_id for r in got] == ["evt-1", "evt-2"]


def test_resize_images_deterministic_and_bounded(media):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.multimodal import resize_images

    out = {r.media_id: r for r in resize_images(media, max_side=64).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    for r in out.values():
        assert 1 <= max(r.width, r.height) <= 64
        assert isinstance(r.content, (bytes, bytearray)) and len(r.content) > 0
    again = {r.media_id: r for r in resize_images(media, max_side=64).collect()}
    assert all(bytes(out[i].content) == bytes(again[i].content) for i in out)
    # different target -> different payload (the fake kernel really re-encodes)
    other = {r.media_id: r for r in resize_images(media, max_side=32).collect()}
    assert any(bytes(out[i].content) != bytes(other[i].content) for i in out)


def test_resize_strict_raises(media):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.multimodal import resize_images

    with pytest.raises(Exception, match="NotImplementedError|not available"):
        resize_images(media, decode="strict").collect()


def test_audio_features_duration_scales_with_bytes(media):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.multimodal import audio_features

    out = {r.media_id: r for r in audio_features(media).collect()}
    sizes = {r.media_id: len(r.content) for r in media.collect()}
    for mid, r in out.items():
        assert r.duration_s == round(sizes[mid] / 32000.0, 6)
        assert r.sample_rate == 16000
        assert 0.0 <= r.rms <= 1.0


def test_enrich_with_dim_stream_equals_batch(spark, tmp_path):
    """Stream-static broadcast enrichment drained with AvailableNow
    must equal the plain batch broadcast join, and the batch plan
    must actually broadcast the dim side."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from lottery_end_to_end_etl_data_pipeline_spark.streaming.incremental import (
        enrich_with_dim,
    )

    events = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)], "event_id long, user_id long, value double"
    )
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    dim = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "C")], "c_custkey long, c_mktsegment string"
    )

    stream = spark.readStream.schema("event_id long, user_id long, value double").parquet(src)
    agg = (
        enrich_with_dim(stream, dim)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("enrich_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["c_mktsegment"]: (r["n"], r["sv"]) for r in spark.table("enrich_t").collect()}

    batch = enrich_with_dim(events, dim)
    want = {
        r["c_mktsegment"]: (r["n"], r["sv"])
        for r in batch.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .collect()
    }
    assert got == want
    assert "D" not in got  # inner join drops unmatched users (user 3)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        batch.explain("simple")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# Stdlib codecs + injectable decode kernels
# ---------------------------------------------------------------------------


def test_ppm_roundtrip_and_malformed():
    from lottery_end_to_end_etl_data_pipeline_spark.functions.codecs import (
        decode_ppm,
        decode_ppm_features,
        encode_ppm,
    )

    rgb = bytes(range(2 * 3 * 3))
    data = encode_ppm(2, 3, rgb)
    assert decode_ppm(data) == (2, 3, rgb)
    # comment-tolerant header, like real PPM writers emit
    commented = b"P6\n# made by a test\n2 3\n255\n" + rgb
    assert decode_ppm(commented) == (2, 3, rgb)
    w, h, luma, phash = decode_ppm_features(data)
    assert (w, h) == (2, 3) and 0.0 <= luma <= 1.0 and len(phash) == 16
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + b"\0" * 4)  # wrong magic
    with pytest.raises(ValueError):
        decode_ppm(data[:-1])  # truncated pixels


def test_resize_ppm_nn_exact_geometry_and_pixels():
    from lottery_end_to_end_etl_data_pipeline_spark.functions.codecs import (
        decode_ppm,
        encode_ppm,
        resize_ppm_nn,
    )

    # 4x2 image with per-pixel distinct colors: pixel (x, y) = 10*y + x
    rgb = bytes(
        b for y in range(2) for x in range(4) for b in (10 * y + x,) * 3
    )
    data = encode_ppm(4, 2, rgb)
    # max_side=2: nw = 4*2//4 = 2, nh = max(1, 2*2//4) = 1
    nw, nh, out = resize_ppm_nn(data, 2)
    assert (nw, nh) == (2, 1)
    w2, h2, rgb2 = decode_ppm(out)
    assert (w2, h2) == (2, 1)
    # nearest-neighbor source pixels: x=0 -> sx=0, x=1 -> sx=1*4//2=2;
    # y=0 -> sy=0 — i.e. colors 0 and 2 from the top row
    assert rgb2 == bytes((0, 0, 0, 2, 2, 2))
    # within max_side: byte-identical passthrough
    assert resize_ppm_nn(data, 4) == (4, 2, data)
    # integer-exact dims for the catalog-entry constructions
    # (w = 4..8, h = 3, max_side = 5)
    for w, want in [(4, (4, 3)), (5, (5, 3)), (6, (5, 2)), (7, (5, 2)), (8, (5, 1))]:
        px = bytes([7, 7, 7]) * (w * 3)
        got = resize_ppm_nn(encode_ppm(w, 3, px), 5)
        assert got[:2] == want, (w, got[:2])
        decode_ppm(got[2])  # resized payload must re-parse


def test_wav_roundtrip_chunk_walk_and_exact_rms():
    from lottery_end_to_end_etl_data_pipeline_spark.functions.codecs import (
        decode_wav,
        decode_wav_features,
        encode_wav,
    )

    samples = [301] * 320  # constant tone -> RMS is exactly 301/32768
    data = encode_wav(samples, sample_rate=16000)
    rate, got = decode_wav(data)
    assert rate == 16000 and got == samples
    dur, r, rms = decode_wav_features(data)
    assert dur == round(320 / 16000.0, 6) and r == 16000
    assert rms == round(301 / 32768.0, 6)
    # real WAV files carry extra chunks before data: the parser must
    # WALK chunks, not assume fixed offsets
    import struct

    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    chunked = data[:12] + extra + data[12:]
    chunked = chunked[:4] + struct.pack("<I", len(chunked) - 8) + chunked[8:]
    assert decode_wav(chunked)[1] == samples
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxAVI " + data[12:])  # not WAVE
    with pytest.raises(ValueError):
        decode_wav(encode_wav([])[:20])  # missing data chunk


def test_injected_ppm_decode_through_image_features(spark):
    """A REAL parse through the Spark operator: the injected stdlib
    kernel must report true header dims, not byte-hash pseudo-dims —
    and a malformed payload must fail the job (real-decoder error
    contract), which the fake never does."""
    from lottery_end_to_end_etl_data_pipeline_spark.functions.codecs import (
        decode_ppm_features,
        encode_ppm,
    )

    rows = [
        (1, encode_ppm(5, 2, bytes([10, 10, 10]) * 10)),
        (2, encode_ppm(3, 4, bytes([200, 0, 50]) * 12)),
    ]
    df = spark.createDataFrame(rows, ["media_id", "content"])
    got = {
        r["media_id"]: r
        for r in image_features(df, decode=decode_ppm_features).collect()
    }
    assert (got[1]["width"], got[1]["height"]) == (5, 2)
    assert (got[2]["width"], got[2]["height"]) == (3, 4)
    assert got[1]["mean_luma"] == round(10 / 255.0, 6)
    bad = spark.createDataFrame([(3, b"not an image")], ["media_id", "content"])
    with pytest.raises(Exception, match="P6|PPM"):
        image_features(bad, decode=decode_ppm_features).collect()
    # the arrow transport takes the same kernel
    got_arrow = {
        r["media_id"]: r
        for r in image_features_arrow(df, decode=decode_ppm_features).collect()
    }
    assert {(r["width"], r["height"]) for r in got_arrow.values()} == {(5, 2), (3, 4)}


def test_injected_wav_decode_through_audio_features(spark):
    from lottery_end_to_end_etl_data_pipeline_spark.functions.codecs import (
        decode_wav_features,
        encode_wav,
    )
    from lottery_end_to_end_etl_data_pipeline_spark.operators.multimodal import (
        audio_features,
    )

    df = spark.createDataFrame(
        [(1, encode_wav([501] * 800, 8000)), (2, encode_wav([99] * 160, 16000))],
        ["media_id", "content"],
    )
    got = {
        r["media_id"]: r
        for r in audio_features(df, decode=decode_wav_features).collect()
    }
    # the rate comes from the file's fmt chunk, not the operator arg
    assert got[1]["sample_rate"] == 8000 and got[1]["duration_s"] == 0.1
    assert got[2]["sample_rate"] == 16000 and got[2]["duration_s"] == 0.01
    assert got[1]["rms"] == round(501 / 32768.0, 6)
