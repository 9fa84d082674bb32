"""Blocked sorted-neighborhood fuzzy matching: window reach, distance
threshold, blocking boundary semantics, determinism.  The block is the
14-char ``c_name`` prefix, so the fixtures share ``P`` (TPC-H's
``Customer#00000`` prefix) wherever names must meet in one block.
"""

import pytest

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.fuzzy import fuzzy_pairs_sorted_neighborhood

P = "Customer#00000"


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [
            (1, P + "alpha"),
            (2, P + "alphb"),   # distance 1 from alpha, adjacent in sort
            (3, P + "alphz"),   # distance 1 from both, within the window
            (4, P + "zebra"),   # far away in sort order and distance
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
        [(i, P + s) for i, s in enumerate(["alpha", "alphb", "alphc", "alphd", "alphz"], 1)],
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
    other = P[:-1] + "1"  # differs from P in the 14th character
    df = spark.createDataFrame(
        [(1, P + "aa1"), (2, P + "aa2"), (3, other + "aa2")],
        "c_custkey long, c_name string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs_sorted_neighborhood(df).collect()
    }
    assert (1, 2) in got
    # 2 and 3 are distance 1 apart but cross the prefix block boundary
    assert (2, 3) not in got


def test_multi_pass_reversed_key_recovers_prefix_typos(spark):
    """The documented recall upgrade: a typo at the start of the
    distinguishing part ('xmith'~'smith') lands far away in forward
    sort order, but a second pass on the REVERSED name puts the shared
    suffix adjacent; the union of passes recovers the pair.  Every
    name ends in the same 14 characters, so the reversed pass blocks
    them together too."""
    suffix = "0000000000#rcs"
    df = spark.createDataFrame(
        [
            (i, P + s + suffix)
            for i, s in enumerate(
                ["smith", "xmith", "tiger", "zzzzz", "umbra", "vapor", "wheat"], 1
            )
        ],
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
