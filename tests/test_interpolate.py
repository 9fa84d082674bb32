"""Linear-interpolation join semantics: midpoint lerp, exact-hit
passthrough, endpoint clamping vs null extrapolation, left-outer
behavior for keys with no series, and duplicate-point dedup.
"""

import datetime as dt

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.interpolate import interpolate_join


def _ts(minute):
    return dt.datetime(2024, 1, 1, 12, minute)


def _frames(spark):
    queries = spark.createDataFrame(
        [
            (1, _ts(5), "before"),
            (1, _ts(10), "exact"),
            (1, _ts(15), "mid"),
            (1, _ts(25), "after"),
            (2, _ts(10), "no-series"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    series = spark.createDataFrame(
        [
            (1, _ts(10), 100.0),
            (1, _ts(20), 200.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    return queries, series


def test_lerp_exact_and_clamp(spark):
    queries, series = _frames(spark)
    out = {
        r.tag: r.interp_value
        for r in interpolate_join(queries, series).collect()
    }
    assert out["exact"] == 100.0  # on a point
    assert out["mid"] == 150.0  # halfway between 100 and 200
    assert out["before"] == 100.0  # clamped to first point
    assert out["after"] == 200.0  # clamped to last point
    assert out["no-series"] is None  # left-outer: key has no series


def test_unequal_spacing_quarter_point(spark):
    queries = spark.createDataFrame(
        [(1, _ts(11), "q")], "user_id long, ts timestamp, tag string"
    )
    series = spark.createDataFrame(
        [(1, _ts(10), 0.0), (1, _ts(14), 100.0)],
        "user_id long, ts timestamp, value double",
    )
    out = interpolate_join(queries, series).collect()[0]
    assert out.interp_value == 25.0  # (11-10)/(14-10) of the way up


def test_matches_numpy_interp_on_random_series(spark):
    """Independent-reference cross-check: on a seeded random series,
    the operator must agree with numpy.interp (which also clamps at
    the endpoints) at every query point."""
    import numpy as np

    rng = np.random.default_rng(7)
    xs = np.sort(rng.choice(np.arange(0, 3_000_000, 17), 40, replace=False))
    vs = np.round(rng.uniform(-50, 50, size=40), 3)
    qs = np.sort(rng.integers(-100_000, 3_100_000, size=60))
    base = dt.datetime(2024, 1, 1)

    series = spark.createDataFrame(
        [(1, base + dt.timedelta(microseconds=int(x)), float(v)) for x, v in zip(xs, vs)],
        "user_id long, ts timestamp, value double",
    )
    queries = spark.createDataFrame(
        [(1, base + dt.timedelta(microseconds=int(x)), i) for i, x in enumerate(qs)],
        "user_id long, ts timestamp, qid long",
    )
    got = {
        r.qid: r.interp_value
        for r in interpolate_join(queries, series).collect()
    }
    expected = np.interp(qs.astype(np.float64), xs.astype(np.float64), vs)
    for i, e in enumerate(expected):
        assert abs(got[i] - e) < 1e-6, (i, got[i], e)


def test_duplicate_series_points_collapse_to_max(spark):
    queries = spark.createDataFrame(
        [(1, _ts(10), "q")], "user_id long, ts timestamp, tag string"
    )
    series = spark.createDataFrame(
        [(1, _ts(10), 5.0), (1, _ts(10), 9.0)],
        "user_id long, ts timestamp, value double",
    )
    out = interpolate_join(queries, series).collect()[0]
    assert out.interp_value == 9.0
