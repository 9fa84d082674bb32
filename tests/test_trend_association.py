"""Trend-regression and association-rule suites
(operators/trend.py, operators/association.py): OLS pinned on
hand-computable lines, degenerate variance contracts, and the
market-basket ratios checked against hand counts — plus the
dirty-data injections (NULLs, NaN, fan-out cap) the operator
contracts promise.
"""

import math

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.association import cooccurrence_lift
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.trend import trend_regression

US = 1_000_000
ANCHOR = "2024-01-01 00:00:00"


def _events(spark, rows):
    """rows: (key, seconds_after_anchor, value)"""
    df = spark.createDataFrame(
        [(k, float(s), v) for k, s, v in rows], "event_type string, s double, value double"
    )
    return df.select(
        "event_type",
        (F.lit(ANCHOR).cast("timestamp") + F.make_dt_interval(secs=F.col("s"))).alias(
            "ts"
        ),
        "value",
    )


# -------------------------------------------------------------- trend


def test_trend_perfect_line(spark):
    # y = 3 + 2·(seconds/86400)  ->  slope_per_day = 2, intercept 3, r2 1
    rows = [("a", d * 86400, 3.0 + 2.0 * d) for d in range(5)]
    out = trend_regression(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 5
    assert r.slope_per_day == 2.0
    assert r.intercept == 3.0
    assert r.r2 == 1.0


def test_trend_flat_series_zero_slope(spark):
    rows = [("a", d * 3600, 7.5) for d in range(4)]
    r = trend_regression(_events(spark, rows)).collect()[0]
    assert r.slope_per_day == 0.0
    assert r.intercept == 7.5
    assert r.r2 is None  # zero y-variance: correlation undefined


def test_trend_single_instant_null_slope(spark):
    rows = [("a", 100, 1.0), ("a", 100, 2.0), ("a", 100, 3.0)]
    r = trend_regression(_events(spark, rows)).collect()[0]
    assert r.slope_per_day is None
    assert r.intercept is None
    assert r.r2 is None
    assert r.n == 3


def test_trend_matches_numpy(spark):
    import numpy as np

    xs = [0, 9000, 20000, 47000, 83000, 120000]
    ys = [5.0, 4.2, 6.9, 8.1, 7.7, 9.4]
    rows = [("a", x, y) for x, y in zip(xs, ys)]
    r = trend_regression(_events(spark, rows)).collect()[0]
    slope_us, intercept = np.polyfit(np.array(xs) * US, ys, 1)
    assert math.isclose(r.slope_per_day, slope_us * 86400 * US, rel_tol=1e-6)
    assert math.isclose(r.intercept, intercept, rel_tol=1e-6)
    cc = np.corrcoef(xs, ys)[0, 1]
    assert math.isclose(r.r2, cc * cc, rel_tol=1e-6)


def test_trend_drops_null_and_nonfinite(spark):
    rows = [("a", d * 1000, float(d)) for d in range(4)]
    base = _events(spark, rows)
    dirty = base.unionByName(
        spark.createDataFrame(
            [
                ("a", None, 9.0),
                ("a", "2024-01-02 00:00:00", None),
                ("a", "2024-01-03 00:00:00", float("nan")),
                ("a", "2024-01-04 00:00:00", float("inf")),
            ],
            "event_type string, ts string, value double",
        ).select("event_type", F.col("ts").cast("timestamp"), "value")
    )
    assert trend_regression(dirty).collect()[0].n == 4


def test_trend_extreme_magnitudes_drop_not_abort(spark):
    # finite-but-enormous values are OUTSIDE the decimal domain: they
    # must drop like NaN, not abort the job at the ANSI cast
    rows = [("a", d * 1000, float(d)) for d in range(4)]
    dirty = _events(spark, rows).unionByName(
        _events(spark, [("a", 5000, 1e300), ("a", 6000, -1e15)])
    )
    r = trend_regression(dirty).collect()[0]
    assert r.n == 4


def test_trend_multiple_keys_sorted(spark):
    rows = [("b", 0, 1.0), ("b", 86400, 2.0), ("a", 0, 5.0), ("a", 86400, 4.0)]
    out = trend_regression(_events(spark, rows)).collect()
    assert [r.event_type for r in out] == ["a", "b"]
    assert out[0].slope_per_day == -1.0
    assert out[1].slope_per_day == 1.0


# -------------------------------------------------------- association


def _facts(spark, pairs):
    return spark.createDataFrame(
        [(int(u), t) for u, t in pairs], "user_id long, event_type string"
    )


def test_cooccurrence_hand_counts(spark):
    # users: 1 {a,b}, 2 {a,b}, 3 {a}, 4 {b,c}  -> n=4
    facts = _facts(
        spark,
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "b"), (4, "c")],
    )
    rows = {(r.item_a, r.item_b): r for r in cooccurrence_lift(facts).collect()}
    ab = rows[("a", "b")]
    assert ab.n_ab == 2 and ab.n_a == 3 and ab.n_b == 3
    assert ab.support == 0.5
    assert ab.conf_a_b == round(2 / 3, 6)
    assert ab.lift == round(2 * 4 / (3 * 3), 6)
    bc = rows[("b", "c")]
    assert bc.n_ab == 1 and bc.n_b == 1  # c appears once
    assert bc.lift == round(1 * 4 / (3 * 1), 6)
    assert ("a", "c") not in rows  # never co-occur


def test_cooccurrence_repeats_collapse(spark):
    # the same (user, item) fact repeated must not inflate any count
    facts = _facts(spark, [(1, "a")] * 5 + [(1, "b")] * 3 + [(2, "a")])
    rows = cooccurrence_lift(facts).collect()
    assert len(rows) == 1
    assert rows[0].n_ab == 1 and rows[0].n_a == 2 and rows[0].n_b == 1


def test_cooccurrence_null_entity_or_item_drop(spark):
    facts = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "a"), (2, None), (2, "a"), (2, "b")],
        "user_id long, event_type string",
    )
    rows = cooccurrence_lift(facts).collect()
    assert len(rows) == 1
    assert rows[0].n_ab == 2  # users 1 and 2 only


def test_cooccurrence_fanout_cap_excises_entity(spark):
    # user 9 holds FANOUT_CAP + 1 distinct items: the cap removes it
    # from EVERY count
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.association import FANOUT_CAP

    many = [(9, f"i{k:05d}") for k in range(FANOUT_CAP - 1)]
    facts = _facts(spark, [(1, "a"), (1, "b"), (9, "a"), (9, "b")] + many)
    rows = cooccurrence_lift(facts).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.item_a, r.item_b) == ("a", "b")
    assert r.n_ab == 1 and r.n_a == 1 and r.n_b == 1
    assert r.support == 1.0  # entity universe shrank to user 1
