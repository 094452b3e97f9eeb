"""Physical-plan shape regressions: the scale properties we rely on
(broadcasts, pushdown, pruned scans, top-k, no cartesian products)
must survive refactors. `.explain` text is the contract."""

import io
import contextlib

import pytest

from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(QUERIES["star_join_revenue"](spark, SF))
    # customer/nation/region must be broadcast, never shuffled
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # dims are broadcast-sized here


def test_star_join_prunes_lineitem_columns(spark):
    plan = plan_of(QUERIES["star_join_revenue"](spark, SF))
    # lineitem scan must read only the 3 needed columns
    assert "l_orderkey:bigint,l_extendedprice:double,l_discount:double" in plan.replace(
        " ", ""
    ).replace("struct<", "struct<")


def test_date_range_pushdown(spark):
    plan = plan_of(QUERIES["date_range_filter"](spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(QUERIES["top_k_customers"](spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark):
    plan = plan_of(QUERIES["gold_frequency_shape"](spark, SF), "simple")
    assert "partial_count" in plan or "partial" in plan  # map-side combine


def test_minhash_signatures_one_parallelizing_shuffle(spark):
    """The signature fold is CPU-bound interpreted HOF work, so the
    plan must contain exactly ONE Exchange — the deliberate input
    repartition that spreads the fold across cores — as an explicit
    REPARTITION_BY_NUM (exempt from AQE coalescing, which would fold
    a small input back to one task). The fold itself stays narrow on
    top of that exchange."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures(docs), "simple")
    assert plan.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in plan


def test_anti_join_no_cartesian(spark):
    plan = plan_of(QUERIES["anti_join_unmatched"](spark, SF), "simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key must join without an
    Exchange on either side — the co-located layout contract."""
    from lottery_end_to_end_etl_data_pipeline_spark.sources.writers import (
        write_bucketed_table,
    )

    left = spark.range(0, 10000).withColumnRenamed("id", "k")
    right = spark.range(0, 1000).withColumnRenamed("id", "k")
    write_bucketed_table(left, "bkt_left", "k", 8)
    write_bucketed_table(right, "bkt_right", "k", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = plan_of(joined, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_salted_join_matches_plain_join(spark):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.skew import salted_join

    # skewed left: key 1 dominates
    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 0)], ["k", "v"]
    )
    right = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], ["k", "name"])
    plain = left.join(right, "k").groupBy("k").count().collect()
    salted = salted_join(left, right, "k").groupBy("k").count().collect()
    assert sorted((r["k"], r["count"]) for r in plain) == sorted(
        (r["k"], r["count"]) for r in salted
    )
    # left join keeps unmatched LEFT rows exactly once
    plain_l = left.join(right, "k", "left").groupBy("k").count().collect()
    salted_l = salted_join(left, right, "k", how="left").groupBy("k").count().collect()
    assert sorted((r["k"], r["count"]) for r in plain_l) == sorted(
        (r["k"], r["count"]) for r in salted_l
    )


def test_salted_join_rejects_outer_right(spark):
    import pytest

    from lottery_end_to_end_etl_data_pipeline_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="inner"):
            salted_join(df, df, "k", how=how)


def test_deterministic_sample_pushes_filter_to_scan(spark):
    """Sampling must be a scan-side predicate: no Exchange anywhere,
    filter applied before the aggregate in the stratified entry."""
    plan = plan_of(QUERIES["stratified_sample_counts"](spark, SF), "simple")
    # only the final groupBy shuffles; sampling adds no exchange of its own
    assert plan.count("Exchange") == 1
    assert "md5" in plan  # membership predicate present pre-agg


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark postings and sizes must be broadcast — corpus
    postings never shuffle for the join."""
    plan = plan_of(QUERIES["decontaminate_containment"](spark, SF), "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_sequence_packing_single_shard_exchange(spark):
    """Packing = one hash exchange on shard for the window, then the
    bin agg reuses that partitioning (partial agg on (shard, bin))."""
    plan = plan_of(QUERIES["sequence_packing_stats"](spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1


def test_ngram_capped_frequent_set_is_broadcast_anti_join(spark):
    """The df cap must be a broadcast anti-join (skew-immune), never a
    window over the shingle key (one hot shingle = one straggler)."""
    plan = plan_of(QUERIES["dedup_ngram_jaccard_capped"](spark, SF), "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Window" not in plan


def test_det_shuffle_head_is_take_ordered(spark):
    """The verifiable head of the deterministic shuffle must be
    top-k-per-partition + merge, not a global sort."""
    plan = plan_of(QUERIES["det_shuffle_head"](spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_sessionize_single_exchange_and_sort(spark):
    """The lag and the running session-count must share one
    partition/order spec: two Window nodes are inherent (the sum
    consumes the lag's output) but they must pipeline over a SINGLE
    exchange and a SINGLE sort — a second of either means a
    duplicate-spec edit silently doubled the shuffle."""
    plan = plan_of(QUERIES["sessionize_batch_30m"](spark, SF), "simple")
    assert plan.count("Window") == 2
    assert plan.count("Exchange") == 1
    assert plan.count("Sort [") == 1


def test_asof_events_single_window_no_nonequi_join(spark):
    """The union–forward-fill as-of construction at events scale:
    exactly one Window (per-key fill), no join of any kind for the
    temporal match itself — the only joins allowed are none (union +
    window + aggregate)."""
    plan = plan_of(QUERIES["asof_event_to_prior_purchase"](spark, SF), "simple")
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_mixture_sampling_no_extra_shuffle_on_data_path(spark):
    """The per-group fractions inline as CASE literals (computed from
    a bounded driver-side count fetch), so the emit pass is a pure
    scan + filter: NO join of any kind on the data path, and the only
    exchange is the final aggregate's."""
    plan = plan_of(QUERIES["mixture_downsample_counts"](spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" not in plan  # the old Python-RDD weights table


def test_repetition_two_keyed_exchanges(spark):
    """Bigram counting is two hash aggregates plus one keyed join —
    no global (single-partition) exchange anywhere."""
    plan = plan_of(QUERIES["repetition_filter_stats"](spark, SF))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_knn_join_single_window_no_shuffle_scoring(spark):
    """Scoring is scan-local: r13's Arrow kernel scores each corpus
    batch against the driver-collected query set inside ONE
    MapInArrow node — no join operator at all (the pre-r13 shape was
    a broadcast nested-loop over the query table); the window over
    scored pairs is the only wide stage before the final agg."""
    plan = plan_of(QUERIES["knn_join_topk"](spark, SF))
    assert "MapInArrow" in plan
    assert "Join" not in plan
    assert "SortMergeJoin" not in plan


def test_zorder_cell_stats_broadcast_bounds(spark):
    """Global min/max bounds arrive by broadcast (1-row aggregate) —
    the z projection itself is narrow whole-stage codegen."""
    plan = plan_of(QUERIES["zorder_cell_stats"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds cross join
    # one hash exchange (final groupBy); the only SinglePartition
    # exchange is the 1-row bounds aggregate
    assert plan.count("hashpartitioning") == 1
    assert plan.count("SinglePartition") == 1
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed on the join key with equal bucket counts →
    the SortMergeJoin must run without shuffling EITHER side: no
    Exchange may appear in the join subtree (the only Exchange in
    the full query is the final groupBy's)."""
    df = QUERIES["bucketed_join_no_shuffle"](spark, SF)
    plan = plan_of(df, "simple")
    assert "SortMergeJoin" in plan
    # split at the join: everything below it (the scan side) must be
    # exchange-free; the aggregate above contributes exactly one.
    assert plan.count("Exchange") == 1, plan
    tail = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in tail, tail


def test_bloom_probe_side_broadcasts(spark):
    """The bloom position table must BROADCAST onto the probe side —
    the probe (fact) table is never shuffled for membership tagging."""
    plan = plan_of(QUERIES["bloom_semi_join_audit"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cms_sketch_partial_aggregates(spark):
    """The CMS cell aggregation must map-side combine (partial_count)
    so only depth x width cells cross the exchange."""
    plan = plan_of(QUERIES["count_min_heavy_hitters"](spark, SF), "simple")
    assert "partial_count" in plan or "partial" in plan


def test_triangle_count_no_cartesian(spark):
    plan = plan_of(QUERIES["triangle_count_knn"](spark, SF))
    assert "CartesianProduct" not in plan


def test_query_functions_leave_session_confs_unchanged(spark):
    """Round-4 advisory: `t()` used to set
    spark.sql.legacy.parquet.nanosAsLong session-globally whenever
    `events` was read — spooky action at a distance. The conf is now
    scoped (`scoped_conf`): building any events-reading query — batch
    or the streaming source builder — must leave every session conf
    exactly as it was."""
    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (
        events_stream,
        t,
    )

    watched = [
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
    ]
    before = {k: spark.conf.get(k, None) for k in watched}
    t(spark, SF, "events").limit(1).collect()
    events_stream(spark, SF)
    QUERIES["seasonal_dow_anomaly"](spark, SF).collect()
    after = {k: spark.conf.get(k, None) for k in watched}
    assert before == after


def test_scoped_conf_restore_is_safe_for_lazy_reads(spark, tmp_path):
    """The contract `scoped_conf` relies on: a parquet scan snapshots
    the session conf at relation-build time, so a DataFrame built
    under the scoped value still collects AFTER restore. Pinned with
    a real TIMESTAMP(NANOS) file — the one case that throws without
    the conf."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (
        scoped_conf,
    )

    path = str(tmp_path / "nanos.parquet")
    tbl = pa.table(
        {
            "ts": pa.array(
                [datetime.datetime(2024, 1, 1, 12, 0, 0)], type=pa.timestamp("ns")
            ),
            "v": [1],
        }
    )
    pq.write_table(tbl, path, coerce_timestamps=None, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with scoped_conf(spark, key, "true"):
        df = spark.read.parquet(path)
    assert spark.conf.get(key, None) in (None, "false")
    rows = df.collect()  # executes AFTER the conf was restored
    assert rows[0].v == 1 and isinstance(rows[0].ts, int)


def test_column_profile_approx_frame_is_expand_free(spark):
    """The approx profiler's headline property: one plain hash
    aggregate, NO Expand operator (exact multi-column distincts would
    replicate every scanned row once per profiled column)."""
    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (
        _column_profile_approx_frame,
    )

    plan = plan_of(_column_profile_approx_frame(spark, SF))
    assert "Expand" not in plan, plan
    # the exact sibling DOES pay Expand — the contrast the docs claim
    exact_plan = plan_of(QUERIES["column_profile_all"](spark, SF))
    assert "Expand" in exact_plan


def test_t_schema_equals_inferred(spark, tmp_path):
    """`t()` reads with the footer's schema; it must be the schema
    Spark infers, for every catalog table and for a Spark-written
    directory table (part files plus `_SUCCESS`). `events.ts` is then
    turned into a timestamp, in place."""
    from pyspark.sql import types as T

    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (
        TABLES,
        t,
    )

    for name in TABLES:
        want = spark.read.parquet(f"{SF}/{name}.parquet").schema
        if name == "events":
            want = T.StructType(
                [T.StructField("ts", T.TimestampType()) if f.name == "ts" else f for f in want]
            )
        assert t(spark, SF, name).schema == want, name
    path = str(tmp_path / "documents.parquet")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(3).write.parquet(path)
    assert t(spark, str(tmp_path), "documents").schema == spark.read.parquet(path).schema
    assert t(spark, str(tmp_path), "documents").count() == spark.read.parquet(path).count()
    # a `_common_metadata` summary wins over the data files, as in Spark
    import pyarrow as pa
    import pyarrow.parquet as pq

    summarized = tmp_path / "orders.parquet"
    summarized.mkdir()
    pq.write_table(pa.table({"a": [1]}), summarized / "part-0.parquet")
    pq.write_metadata(pa.schema([("a", pa.int64()), ("b", pa.string())]), summarized / "_common_metadata")
    assert t(spark, str(tmp_path), "orders").columns == ["a", "b"]
    assert t(spark, str(tmp_path), "orders").schema == spark.read.parquet(str(summarized)).schema


def test_t_and_events_stream_read_every_events_ts_form(spark, tmp_path):
    """TIMESTAMP(NANOS), TIMESTAMP(MICROS) and NTZ `events.ts` all
    come back as the same UTC instant, truncated to microseconds, and
    the stream source gets the batch read's schema; session confs are
    left as they were."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (
        events_stream,
        scoped_conf,
        t,
    )

    wall = datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)
    want = int(wall.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**6 + 123456
    key = "spark.sql.legacy.parquet.nanosAsLong"
    forms = {
        "nanos": pa.array([pa.scalar(wall, pa.timestamp("us")).value * 1000 + 789], pa.int64()).cast(pa.timestamp("ns")),
        "micros": pa.array([wall], pa.timestamp("us", tz="UTC")),
        "ntz": pa.array([wall], pa.timestamp("us")),
    }
    for form, ts in forms.items():
        sf_dir = tmp_path / form
        sf_dir.mkdir()
        pq.write_table(pa.table({"ts": ts, "v": [1]}), sf_dir / "events.parquet", version="2.6")
        before = spark.conf.get(key, None)
        df = t(spark, str(sf_dir), "events")
        assert spark.conf.get(key, None) == before
        assert dict(df.dtypes)["ts"] == "timestamp", form
        assert df.select(F.unix_micros("ts")).first()[0] == want, form
        with scoped_conf(spark, key, before or "false"):  # the nanos form sets it for the stream
            assert events_stream(spark, str(sf_dir)).schema == df.schema, form


def test_t_sees_a_rewritten_table(spark, tmp_path):
    """No schema is kept between calls: a table rewritten with another
    schema is read with the new one by the next `t()`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import t

    path = tmp_path / "lineitem.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert t(spark, str(tmp_path), "lineitem").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = t(spark, str(tmp_path), "lineitem")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_t_missing_table_raises_at_construction(spark, tmp_path):
    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import t

    with pytest.raises(Exception, match="does not exist"):
        t(spark, str(tmp_path), "orders")


def test_catalog_construction_job_budget(spark):
    """Building `star_join_revenue` and the 7 `gold_*_shape` entries
    starts no Spark job: every table schema comes from its footer on
    the driver, not from a schema-inference job."""
    from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import QUERIES

    names = ["star_join_revenue"] + [n for n in QUERIES if n.startswith("gold_") and n.endswith("_shape")]
    assert len(names) == 8
    sc, group = spark.sparkContext, "construct-probe"
    tracker = sc.statusTracker()
    sc.setJobGroup(group, "build catalog entries")
    try:
        for name in names:
            QUERIES[name](spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(tracker.getJobIdsForGroup(group)) == []
