"""Unit tests for operators/ohlc.py (OHLC downsampling bars, r9)."""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.ohlc import ohlc_bars


def _bars(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    out = ohlc_bars(df).collect()
    return {(r.event_type, r.bucket_ts): r for r in out}


def T(h, m=0, s=0):
    return datetime(2024, 5, 1, h, m, s)


def test_open_close_follow_time_not_input_order(spark):
    rows = [  # deliberately shuffled input order
        (3, T(9, 30), "buy", 7.0),
        (1, T(9, 1), "buy", 5.0),
        (4, T(9, 59), "buy", 2.0),
        (2, T(9, 10), "buy", 9.0),
    ]
    b = _bars(spark, rows)[("buy", T(9))]
    assert (b.open, b.high, b.low, b.close) == (5.0, 9.0, 2.0, 2.0)
    assert b.n_events == 4 and b.mean_value == 5.75 and b.total_value == 23.0


def test_buckets_and_keys_stay_separate(spark):
    rows = [
        (1, T(9, 5), "a", 1.0),
        (2, T(10, 5), "a", 2.0),
        (3, T(9, 5), "b", 3.0),
    ]
    b = _bars(spark, rows)
    assert set(b) == {("a", T(9)), ("a", T(10)), ("b", T(9))}
    assert b[("a", T(10))].open == 2.0


def test_duplicate_timestamp_ties_break_on_id_then_value(spark):
    # same ts: lower event_id wins open, higher wins close
    rows = [
        (2, T(9), "a", 20.0),
        (1, T(9), "a", 10.0),
        (None, T(9), "a", 5.0),  # NULL id -> sentinel, sorts first
    ]
    b = _bars(spark, rows)[("a", T(9))]
    assert b.open == 5.0 and b.close == 20.0
    # full tie (same ts, same NULL id): min/max fall through to value
    rows2 = [(None, T(9), "a", 8.0), (None, T(9), "a", 3.0)]
    b2 = _bars(spark, rows2)[("a", T(9))]
    assert b2.open == 3.0 and b2.close == 8.0


def test_null_and_nonfinite_rows_drop_from_every_column(spark):
    rows = [
        (1, T(9, 1), "a", 4.0),
        (2, None, "a", 100.0),  # NULL ts: no bar
        (3, T(9, 2), "a", None),  # NULL value: no price
        (4, T(9, 3), "a", math.nan),
        (5, T(9, 4), "a", math.inf),
        (6, T(9, 5), "a", 6.0),
    ]
    b = _bars(spark, rows)[("a", T(9))]
    assert (b.open, b.close, b.n_events) == (4.0, 6.0, 2)
    assert b.total_value == 10.0 and b.mean_value == 5.0


def test_streaming_ohlc_drops_nonfinite_like_batch(spark):
    """r9 advice: tumbling_ohlc must apply the SAME NaN/Inf guard as
    the batch ohlc_bars — a NaN tick reaching the streaming aggregate
    would poison high/total_value for the whole bar.  Batch/streaming
    duality lets us pin it with a batch plan."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import tumbling_ohlc

    rows = [
        (1, T(9, 1), "buy", 5.0),
        (2, T(9, 10), "buy", float("nan")),
        (3, T(9, 20), "buy", float("inf")),
        (4, T(9, 30), "buy", float("-inf")),
        (5, T(9, 59), "buy", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    out = {r.event_type: r for r in tumbling_ohlc(df).collect()}
    b = out["buy"]
    assert (b.open, b.high, b.low, b.close) == (5.0, 5.0, 2.0, 2.0)
    assert b.n == 2 and b.total_value == 7.0
    assert not math.isnan(b.high) and math.isfinite(b.total_value)


def test_streaming_tumbling_ohlc_equals_batch(spark, smoke_dir):
    """availableNow streaming OHLC == the same aggregation run as a
    batch plan — min/max(struct) selection is order-agnostic, so
    micro-batch replay cannot change any bar."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming import (
        run_available_now,
        stream_events,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import tumbling_ohlc

    streamed = run_available_now(
        tumbling_ohlc(stream_events(spark, smoke_dir)),
        "test_stream_ohlc_sink",
        "complete",
    )
    batch = tumbling_ohlc(load_table(spark, smoke_dir, "events"))
    assert sorted(map(tuple, streamed.collect()), key=lambda r: r[:2]) == \
        sorted(map(tuple, batch.collect()), key=lambda r: r[:2])
