"""applyInPandasWithState operator test: the per-user running profile
must fold all of a user's events into cumulative totals and agree with
the equivalent batch aggregation.
"""

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.stateful import running_user_profile
from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import run_available_now


def test_running_profile_matches_batch_totals(spark, smoke_dir):
    # state partitions = shuffle partitions; 4 keeps the per-partition
    # python-worker + state-store overhead test-sized
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _run_profile_check(spark, smoke_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_profile_check(spark, smoke_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming import stream_events

    stream = stream_events(spark, smoke_dir).select("user_id", "ts", "value")
    out = run_available_now(
        running_user_profile(stream), "t_stateful_profile", "update"
    )
    # update mode may emit a row per (user, micro-batch): keep the last
    # emission per user (max n_events — counts are monotone)
    got = {}
    for r in out.collect():
        prev = got.get(r.user_id)
        if prev is None or r.n_events > prev[0]:
            got[r.user_id] = (r.n_events, r.sum_value, r.last_ts)

    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    batch = (
        load_table(spark, smoke_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
            F.max("ts").alias("m"),
        )
    )
    expected = {r.user_id: (r.n, r.s, r.m) for r in batch.collect()}
    assert set(got) == set(expected)
    for uid, (n, s, m) in expected.items():
        gn, gs, gm = got[uid]
        assert gn == n and abs(gs - s) < 0.011 and gm == m


def test_running_profile_all_null_group_emits_nulls(spark, tmp_path):
    """A user whose events carry only NULL value/ts must profile as
    (n, NULL, NULL) exactly like the batch twin (F.sum/F.max over an
    all-NULL group) — previously the fold's 0.0/epoch sentinels leaked
    out as fake values."""
    import datetime

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.stateful import running_user_profile
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import run_available_now

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (7, None, None),
            (8, datetime.datetime(2024, 1, 1, 10), 2.5),
            (8, None, None),
        ],
        "user_id long, ts timestamp, value double",
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = run_available_now(
            running_user_profile(stream), "t_stateful_nulls", "update"
        )
        got = {}
        for r in out.collect():
            cur = got.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                got[r.user_id] = (r.n_events, r.sum_value, r.last_ts)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got[7] == (1, None, None)
    n8, s8, t8 = got[8]
    assert n8 == 2 and s8 == 2.5
    assert t8 == datetime.datetime(2024, 1, 1, 10)
