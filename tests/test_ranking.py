"""Unit tests for operators/ranking.py (two-level distributed rank)."""

from __future__ import annotations

import pytest

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.ranking import distributed_rank


def _df(spark, rows):
    return spark.createDataFrame(rows, "event_id LONG, event_type STRING, value DOUBLE")


def _naive(df):
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc_nulls_last())
    n = F.count("*").over(Window.partitionBy("event_type"))
    return df.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("dense_rnk"),
        F.round(
            F.when(n > 1, F.percent_rank().over(w)).otherwise(F.lit(0.0)), 6
        ).alias("pct_rank"),
    )


def _assert_matches_naive(spark, rows):
    df = _df(spark, rows)
    got = sorted(map(tuple, distributed_rank(df).collect()))
    want = sorted(map(tuple, _naive(df).collect()))
    assert got == want


def test_matches_window_rank_with_heavy_ties(spark):
    rows = [
        (i, "a", float(v))
        for i, v in enumerate([5, 5, 5, 3, 3, 9, 1, 1, 1, 1])
    ] + [(100 + i, "b", 2.0) for i in range(4)]
    _assert_matches_naive(spark, rows)


def test_nulls_rank_last_as_one_tie_group(spark):
    rows = [(1, "a", 7.0), (2, "a", None), (3, "a", None), (4, "a", 1.0)]
    out = {r.event_id: r for r in distributed_rank(_df(spark, rows)).collect()}
    assert out[1].rnk == 1 and out[4].rnk == 2
    assert out[2].rnk == out[3].rnk == 3
    assert out[2].dense_rnk == 3
    _assert_matches_naive(spark, rows)


def test_single_row_key_pct_rank_zero(spark):
    out = distributed_rank(_df(spark, [(1, "solo", 4.0)])).collect()
    assert out[0].rnk == 1 and out[0].pct_rank == 0.0


def test_no_full_data_window_in_plan(spark):
    """The decomposition's Window runs over the DISTINCT-VALUE
    relation (post-aggregate), never the raw rows: the plan must
    show the window ABOVE an aggregate, and joining back must not
    re-sort the full input per key."""
    df = _df(spark, [(i, "a", float(i % 3)) for i in range(30)])
    plan = distributed_rank(df)._jdf.queryExecution().executedPlan().toString()
    # window input is the aggregated counts -> an Aggregate appears
    # below the Window in the same subtree
    assert "Window" in plan and "HashAggregate" in plan


# ------------------------------------------------- distributed ntile


@pytest.mark.parametrize("n", [1, 3, 5, 7, 10, 23])
def test_ntile_distributed_equals_native_ntile(spark, n):
    """_ntile_distributed must reproduce Spark's ntile() bucket sizes
    exactly for every n-vs-k regime (n < k, n % k == 0, ragged)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.plans.analytics import _ntile_distributed

    df = spark.range(n).select(
        F.col("id").alias("o_custkey"), (F.col("id") * 37 % 11).alias("v")
    )
    got = {
        (r["__k_b"], r.b)
        for r in _ntile_distributed(
            df, [F.desc("v"), F.asc("o_custkey")], "b"
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), F.asc("o_custkey"))
    want = {
        (r.o_custkey, r.b)
        for r in df.select("o_custkey", F.ntile(5).over(w).alias("b")).collect()
    }
    assert got == want
