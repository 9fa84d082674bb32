"""Unit tests for llm/dedup.py::prefix_contained (r8)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import prefix_contained


def _pairs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    return {
        (r["contained_id"], r["container_id"])
        for r in prefix_contained(df).collect()
    }


def test_simple_prefix_detected(spark):
    got = _pairs(spark, [(1, "abc"), (2, "abcdef"), (3, "zzz")])
    assert got == {(1, 2)}


def test_chain_every_link_flagged(spark):
    # a < ab < abc sort adjacently; each is a prefix of its successor
    got = _pairs(spark, [(1, "a"), (2, "ab"), (3, "abc")])
    assert got == {(1, 2), (2, 3)}


def test_transitive_containment_found_via_sort_order(spark):
    # 'ab' ⊂ 'abcdef' even with 'abc...' rows between them: the
    # in-between property guarantees the immediate successor witnesses
    got = _pairs(spark, [(1, "ab"), (2, "abq"), (3, "abqz")])
    assert (1, 2) in got and (2, 3) in got


def test_exact_duplicates_all_but_last_flagged(spark):
    got = _pairs(spark, [(1, "same"), (2, "same"), (3, "same")])
    # deterministic (text, id) order: 1→2, 2→3
    assert got == {(1, 2), (2, 3)}


def test_cross_block_no_false_positive(spark):
    # 'z' is the last row of its first-char block; nothing contains it
    got = _pairs(spark, [(1, "z"), (2, "za!"), (3, "ab")])
    assert got == {(1, 2)}


def test_like_wildcards_are_literal(spark):
    # '%' must not match as a wildcard: 'a%' is NOT a prefix of 'abc'
    got = _pairs(spark, [(1, "a%"), (2, "abc")])
    assert got == set()
    got2 = _pairs(spark, [(1, "a%"), (2, "a%b")])
    assert got2 == {(1, 2)}


def test_null_and_empty_excluded(spark):
    got = _pairs(spark, [(1, ""), (2, None), (3, "abc"), (4, "abcd")])
    assert got == {(3, 4)}


def test_no_containment_empty_result(spark):
    assert _pairs(spark, [(1, "cat"), (2, "dog")]) == set()
