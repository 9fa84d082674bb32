"""Blocked sorted-neighborhood fuzzy matching: window reach, distance
threshold, blocking boundary semantics, determinism.
"""

import pytest

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.fuzzy import fuzzy_pairs_sorted_neighborhood


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [
            (1, "alpha"),
            (2, "alphb"),   # distance 1 from alpha, adjacent in sort
            (3, "alphz"),   # distance 1 from both, within the window
            (4, "zebra"),   # far away in sort order and distance
        ],
        "c_custkey long, c_name string",
    )


def test_window_pairs_within_threshold(names):
    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_pairs_sorted_neighborhood(names).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_window_misses_distant_sort_neighbors(spark):
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "alphb"), (3, "alphc"), (4, "alphd"), (5, "alphz")],
        "c_custkey long, c_name string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs_sorted_neighborhood(df).collect()
    }
    # alpha-alphz (distance 1) are 4 apart in sort order: the 3-row
    # window cannot see them; every closer pair is found
    every = {(a, b) for a in range(1, 6) for b in range(a + 1, 6)}
    assert got == every - {(1, 5)}


def test_blocking_cuts_cross_block_pairs(spark):
    df = spark.createDataFrame(
        [(1, "aa1"), (2, "aa2"), (3, "ba2")],
        "c_custkey long, c_name string",
    )
    unblocked = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs_sorted_neighborhood(df).collect()
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs_sorted_neighborhood(
            df, block_col=F.substring("c_name", 1, 1),
        ).collect()
    }
    assert (1, 2) in unblocked and (1, 2) in blocked
    # aa2~ba2 is distance 1 but crosses the first-char block boundary
    assert (2, 3) in unblocked and (2, 3) not in blocked


def test_multi_pass_reversed_key_recovers_prefix_typos(spark):
    """The documented recall upgrade: a PREFIX typo ('xmith'~'smith')
    lands far away in forward sort order, but a second pass sorted on
    the REVERSED string puts the shared suffix adjacent; the union of
    passes recovers the pair."""
    df = spark.createDataFrame(
        [(1, "smith"), (2, "xmith"), (3, "tiger"), (4, "zzzzz"),
         (5, "umbra"), (6, "vapor"), (7, "wheat")],
        "c_custkey long, c_name string",
    )
    fwd = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs_sorted_neighborhood(df).collect()
    }
    assert (1, 2) not in fwd  # prefix typo: not sort-adjacent forward
    rev = fuzzy_pairs_sorted_neighborhood(
        df.withColumn("c_name", F.reverse("c_name"))
    ).select("id_a", "id_b", "distance")
    both = fwd | {(r.id_a, r.id_b) for r in rev.collect()}
    assert (1, 2) in both


def test_block_col_may_name_another_column(spark):
    """Regression: block_col="zip" (a column OTHER than id/key) must
    resolve — the narrowing projection used to drop it before the
    block expression was bound."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.fuzzy import (
        fuzzy_pairs_sorted_neighborhood,
    )

    df = spark.createDataFrame(
        [
            (1, "smith", "111"),
            (2, "smyth", "111"),
            (3, "smith", "999"),
        ],
        "c_custkey long, c_name string, zip string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs_sorted_neighborhood(df, block_col="zip").collect()
    }
    # 1-2 share a block and are 1 edit apart; 3 is blocked away
    assert pairs == {(1, 2)}
