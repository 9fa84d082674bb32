"""Interval-overlap join (operators/range_join.py::
interval_overlap_join): half-open semantics, the
first-overlapping-cell dedup (pairs straddling many buckets emit
once), degenerate-interval and NULL-bound contracts.
"""

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.range_join import interval_overlap_join

T0 = "2024-01-01 00:00:00"


def _ivl(spark, pre, rows):
    """rows: (key, id, start_min, end_min) — minutes after T0."""
    df = spark.createDataFrame(
        [(k, i, float(s), float(e)) for k, i, s, e in rows],
        f"user_id long, {pre}_id long, s double, e double",
    )
    base = F.lit(T0).cast("timestamp")
    return df.select(
        "user_id",
        f"{pre}_id",
        (base + F.make_dt_interval(mins=F.col("s"))).alias(f"{pre}_start"),
        (base + F.make_dt_interval(mins=F.col("e"))).alias(f"{pre}_end"),
    )


def _run(spark, lrows, rrows):
    out = interval_overlap_join(
        _ivl(spark, "l", lrows), _ivl(spark, "r", rrows)
    )
    return sorted(
        (r.user_id, r.l_id, r.r_id, r.overlap_seconds) for r in out.collect()
    )


def test_basic_overlap_and_length(spark):
    got = _run(
        spark,
        [(1, 10, 0, 30)],
        [(1, 20, 20, 50), (1, 21, 40, 60)],
    )
    # [0,30) × [20,50) overlap = 10 min; [0,30) × [40,60) disjoint
    assert got == [(1, 10, 20, 600.0)]


def test_half_open_adjacency_no_overlap(spark):
    assert _run(spark, [(1, 1, 0, 10)], [(1, 2, 10, 20)]) == []


def test_containment_and_identity(spark):
    got = _run(spark, [(1, 1, 0, 60)], [(1, 2, 10, 20), (1, 3, 0, 60)])
    assert got == [(1, 1, 2, 600.0), (1, 1, 3, 3600.0)]


def test_multi_bucket_pair_emitted_once(spark):
    # both intervals span many 1-hour buckets; the pair must emit
    # exactly once despite sharing ~29 buckets
    got = _run(
        spark,
        [(1, 1, 0, 30 * 60)],
        [(1, 2, 60, 29 * 60)],
    )
    assert got == [(1, 1, 2, 28 * 3600.0)]


def test_key_scoping_and_null_keys(spark):
    got = _run(
        spark,
        [(1, 1, 0, 30), (None, 3, 0, 30)],
        [(2, 2, 0, 30), (None, 4, 0, 30)],
    )
    assert got == []  # different keys never pair; NULL keys never pair


def test_empty_and_inverted_intervals_drop(spark):
    got = _run(
        spark,
        [(1, 1, 10, 10), (1, 2, 30, 20), (1, 3, 0, 15)],
        [(1, 9, 0, 60)],
    )
    assert got == [(1, 3, 9, 900.0)]


def test_null_bounds_drop(spark):
    l = _ivl(spark, "l", [(1, 1, 0, 30)]).unionByName(
        spark.createDataFrame(
            [(1, 5, None, None)],
            "user_id long, l_id long, l_start timestamp, l_end timestamp",
        )
    )
    r = _ivl(spark, "r", [(1, 2, 10, 20)])
    out = interval_overlap_join(l, r)
    assert [x.l_id for x in out.collect()] == [1]


def test_column_clash_rejected(spark):
    l = _ivl(spark, "l", [(1, 1, 0, 30)]).withColumnRenamed("l_id", "id")
    r = _ivl(spark, "r", [(1, 2, 0, 30)]).withColumnRenamed("r_id", "id")
    with pytest.raises(ValueError):
        interval_overlap_join(l, r)
