"""Unit tests for operators/anomaly.py (IQR outlier profile, r9)."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import iqr_outlier_profile


def _profile(spark, rows):
    df = spark.createDataFrame(rows, "event_type STRING, value DOUBLE")
    out = iqr_outlier_profile(df).collect()
    return {r.event_type: r for r in out}


def test_planted_outlier_lands_outside_fences(spark):
    # 1..11 plus a wild point: q1=3.5, q3=9.5 (with 1000: q3 shifts)
    vals = [float(v) for v in range(1, 12)] + [1000.0]
    r = _profile(spark, [("a", v) for v in vals])["a"]
    assert r.n == 12
    assert r.n_outliers == 1 and r.outlier_frac == round(1 / 12, 6)
    assert r.n_z3 == 1  # mean≈88.8, sd≈287 -> z(1000)≈3.17 > 3


def test_quartiles_interpolate_like_quantile_cont(spark):
    # values 1..5: q1 = 2.0, q3 = 4.0 (linear interpolation)
    r = _profile(spark, [("a", float(v)) for v in range(1, 6)])["a"]
    assert (r.q1, r.q3, r.iqr) == (2.0, 4.0, 2.0)
    assert (r.lo_fence, r.hi_fence) == (-1.0, 7.0)
    assert r.n_outliers == 0


def test_single_row_key_has_degenerate_fences_and_no_z(spark):
    r = _profile(spark, [("solo", 42.0)])["solo"]
    assert (r.n, r.q1, r.q3, r.iqr) == (1, 42.0, 42.0, 0.0)
    assert r.n_outliers == 0 and r.n_z3 == 0  # NULL stddev -> 0, not NULL


def test_null_and_nonfinite_values_drop_from_all_columns(spark):
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None),
            ("a", math.nan), ("a", math.inf)]
    r = _profile(spark, rows)["a"]
    assert r.n == 3 and r.q1 == 1.5 and r.q3 == 2.5


def test_keys_profile_independently(spark):
    rows = [("a", float(v)) for v in range(10)] + [("b", 5.0), ("b", 500.0)]
    out = _profile(spark, rows)
    assert out["a"].n == 10 and out["b"].n == 2
    # two points: q1/q3 interpolate between them; fences swallow both
    assert out["b"].n_outliers == 0


# ---------------------------------------------------------------------------
# equi-depth histogram (r9 second half)
# ---------------------------------------------------------------------------


def test_equidepth_balanced_on_uniform(spark):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import equidepth_histogram

    rows = [("a", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {r.bucket: r.n for r in equidepth_histogram(df).collect()}
    # 100 uniform values into quartile buckets: 25 each (edge ties
    # land deterministically via the comparison-sum rule)
    assert sum(got.values()) == 100
    assert all(20 <= n <= 30 for n in got.values()), got


def test_equidepth_duplicate_edges_empty_bucket(spark):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import equidepth_histogram

    # one value owns 80% of the mass: q1 == q2 == q3 == 5.0 — the
    # middle buckets collapse deterministically instead of splitting
    # ties engine-specifically
    rows = [("a", 5.0)] * 80 + [("a", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r.bucket: r.n for r in equidepth_histogram(df).collect()}
    assert sum(out.values()) == 100
    # all 5.0s share one bucket (v > 5.0 false for every dup edge)
    assert max(out.values()) >= 80


def test_equidepth_nonfinite_dropped(spark):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import equidepth_histogram

    rows = [("a", float(i)) for i in range(8)] + [
        ("a", float("nan")),
        ("a", float("inf")),
        ("a", None),
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    assert sum(r.n for r in equidepth_histogram(df).collect()) == 8


def _cp_rows():
    """Hourly-ish series with a clear level shift: 'a' jumps from ~1.0
    to ~9.0 at hour 12 of 24; 'b' is constant."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 5, 1)
    rows = []
    for h in range(24):
        v = 1.0 if h < 12 else 9.0
        rows.append((h, t0 + timedelta(hours=h), "a", v))
        rows.append((100 + h, t0 + timedelta(hours=h), "b", 4.0))
    return rows


def test_changepoint_finds_the_shift(spark):
    from datetime import datetime

    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import changepoint_profile

    df = spark.createDataFrame(
        _cp_rows(), "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r.event_type: r for r in changepoint_profile(df).collect()}
    a = out["a"]
    # |CUSUM| peaks at the last pre-shift bucket (hour 11)
    assert a.cp_ts == datetime(2024, 5, 1, 11)
    assert a.mean_before == 1.0 and a.mean_after == 9.0 and a.shift == 8.0
    assert a.n_buckets == 24 and a.max_abs_cusum == 48.0


def test_changepoint_constant_series_ties_to_last_bucket(spark):
    """All rounded CUSUMs are 0.0 on a constant series — the pinned
    tie-break picks the LATEST bucket in both engines, and the 'after'
    side is then empty (NULL mean_after/shift, never 0)."""
    from datetime import datetime

    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import changepoint_profile

    df = spark.createDataFrame(
        _cp_rows(), "event_id long, ts timestamp, event_type string, value double"
    )
    b = {r.event_type: r for r in changepoint_profile(df).collect()}["b"]
    assert b.cp_ts == datetime(2024, 5, 1, 23)
    assert b.max_abs_cusum == 0.0
    assert b.mean_before == 4.0
    assert b.mean_after is None and b.shift is None


def test_changepoint_nonfinite_and_null_ts_dropped(spark):
    from datetime import datetime

    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import changepoint_profile

    rows = _cp_rows() + [
        (200, datetime(2024, 5, 1, 5), "a", float("nan")),
        (201, datetime(2024, 5, 1, 6), "a", float("inf")),
        (202, None, "a", 100.0),
        (203, datetime(2024, 5, 1, 7), "a", None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    a = {r.event_type: r for r in changepoint_profile(df).collect()}["a"]
    assert a.n_buckets == 24 and a.mean_before == 1.0 and a.shift == 8.0
