"""Unit tests for operators/decay.py (fixed-anchor EWMA, r8)."""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.decay import HALF_LIFE_S, ewma_by_key

T0 = datetime(2024, 3, 1, 12, 0, 0)
HL = HALF_LIFE_S


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "event_type STRING, ts TIMESTAMP, value DOUBLE"
    )


def _row(spark, rows, key="a"):
    out = ewma_by_key(_df(spark, rows)).collect()
    return {r["event_type"]: r for r in out}[key]


def test_anchor_event_weighs_one_and_half_life_halves(spark):
    # v=10 at the anchor (w=1), v=0 one half-life earlier (w=0.5):
    # ewma = (10*1 + 0*0.5) / 1.5 = 6.666667
    r = _row(
        spark,
        [("a", T0, 10.0), ("a", T0 - timedelta(seconds=HL), 0.0)],
    )
    assert r["ewma"] == round(10 / 1.5, 6)
    assert r["plain_avg"] == 5.0
    assert r["n"] == 2


def test_equal_timestamps_reduce_to_plain_average(spark):
    rows = [("a", T0, float(v)) for v in (1, 2, 3, 4)]
    r = _row(spark, rows)
    assert r["ewma"] == r["plain_avg"] == 2.5
    # all weights equal → effective sample size = n
    assert r["effective_n"] == 4.0


def test_recent_events_dominate(spark):
    # old cluster at 10 half-lives (weight ~1e-3) barely moves the ewma
    rows = [("a", T0, 100.0)] + [
        ("a", T0 - timedelta(seconds=10 * HL), 0.0) for _ in range(5)
    ]
    r = _row(spark, rows)
    assert r["plain_avg"] == pytest.approx(100 / 6, abs=1e-6)
    assert r["ewma"] > 99.0


def test_null_values_drop_out_of_both_averages(spark):
    rows = [("a", T0, 10.0), ("a", T0 - timedelta(seconds=HL), None)]
    r = _row(spark, rows)
    assert r["n"] == 1
    assert r["ewma"] == 10.0 and r["plain_avg"] == 10.0


def test_null_timestamp_rows_drop_from_all_three_aggregates(spark):
    # Contract (r9): a non-NULL value with a NULL timestamp has no
    # decay weight, so it must not count in n/plain_avg/effective_n
    # either — all output columns cover the SAME row set.
    rows = [("a", T0, 10.0), ("a", None, 999.0)]
    r = _row(spark, rows)
    assert r["n"] == 1
    assert r["ewma"] == 10.0 and r["plain_avg"] == 10.0
    assert r["effective_n"] == 1.0


def test_effective_n_penalizes_skewed_weights(spark):
    # one fresh + one ancient event: ess ≈ 1, far below n=2
    rows = [("a", T0, 1.0), ("a", T0 - timedelta(seconds=20 * HL), 1.0)]
    r = _row(spark, rows)
    w = 2.0 ** -20
    expected = (1 + w) ** 2 / (1 + w * w)
    assert r["effective_n"] == pytest.approx(expected, abs=1e-6)
    assert r["effective_n"] < 1.001


def test_hand_computed_three_point_ewma(spark):
    rows = [
        ("a", T0, 4.0),
        ("a", T0 - timedelta(seconds=HL / 2), 8.0),
        ("a", T0 - timedelta(seconds=2 * HL), 16.0),
    ]
    w1, w2, w3 = 1.0, 2 ** -0.5, 0.25
    expected = round(
        (4 * w1 + 8 * w2 + 16 * w3) / (w1 + w2 + w3), 6
    )
    assert _row(spark, rows)["ewma"] == pytest.approx(expected, abs=2e-6)


def test_keys_stay_independent(spark):
    rows = [("a", T0, 1.0), ("b", T0, 100.0)]
    out = {
        r["event_type"]: r["ewma"]
        for r in ewma_by_key(_df(spark, rows)).collect()
    }
    # anchor is the TABLE max ts (shared), but values never mix
    assert out == {"a": 1.0, "b": 100.0}
