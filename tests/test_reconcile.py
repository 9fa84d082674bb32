"""Table reconciliation diff (operators/reconcile.py).

Pins: the four plain statuses, NULL-vs-empty payload distinctness
(the hash must not conflate ``(1, NULL)`` with ``(1, '')``),
duplicate-key and NULL-key surfacing (never silent mis-pairs),
payload-column agreement, and partition invariance.
"""

from __future__ import annotations

import pytest

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.reconcile import diff_summary, table_diff


def _diff(spark, left_rows, right_rows, **kw):
    schema = kw.pop("schema", "o_orderkey int, a string, b double")
    left = spark.createDataFrame(left_rows, schema)
    right = spark.createDataFrame(right_rows, schema)
    out = table_diff(left, right)
    return sorted(
        ((r.o_orderkey, r.status) for r in out.collect()),
        key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1]),
    )


def test_four_plain_statuses(spark):
    left = [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)]
    right = [(1, "x", 1.0), (2, "y", 99.0), (4, "w", 4.0)]
    assert _diff(spark, left, right) == [
        (1, "unchanged"),
        (2, "changed"),
        (3, "removed"),
        (4, "added"),
    ]


def test_null_vs_empty_payload_distinct(spark):
    left = [(1, None, 1.0), (2, "", 2.0)]
    right = [(1, "", 1.0), (2, "", 2.0)]
    assert _diff(spark, left, right) == [(1, "changed"), (2, "unchanged")]


def test_null_shift_detected(spark):
    # column-shift corruption between same-typed adjacent columns:
    # xxhash64 SKIPS null inputs, so without positional null flags
    # (5.0, NULL) and (NULL, 5.0) hash identically and the shift
    # silently passes as 'unchanged' — the one corruption a backfill
    # promotion gate exists to catch
    schema = "o_orderkey int, a double, b double"
    left = [(1, 5.0, None), (2, None, 7.0)]
    right = [(1, None, 5.0), (2, None, 7.0)]
    assert _diff(spark, left, right, schema=schema) == [
        (1, "changed"),
        (2, "unchanged"),
    ]


def test_null_payload_both_sides_unchanged(spark):
    left = [(1, None, None)]
    right = [(1, None, None)]
    assert _diff(spark, left, right) == [(1, "unchanged")]


def test_duplicate_keys_surfaced(spark):
    left = [(1, "x", 1.0), (1, "x2", 1.5), (2, "y", 2.0)]
    right = [(1, "x", 1.0), (2, "y", 2.0)]
    assert _diff(spark, left, right) == [
        (1, "duplicate_key"),
        (2, "unchanged"),
    ]


def test_null_keys_surfaced_not_joined(spark):
    left = [(None, "x", 1.0), (2, "y", 2.0)]
    right = [(None, "x", 1.0), (2, "y", 2.0)]
    got = _diff(spark, left, right)
    # NULL keys never equi-join: each side's NULL group surfaces
    assert got == [(2, "unchanged"), (None, "null_key"), (None, "null_key")]


def test_default_compare_cols_mismatch_raises(spark):
    left = spark.createDataFrame([(1, "x")], "o_orderkey int, a string")
    right = spark.createDataFrame([(1, 2.0)], "o_orderkey int, b double")
    with pytest.raises(ValueError, match="payload columns"):
        table_diff(left, right)


def test_summary_counts(spark):
    left = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(10)], "o_orderkey int, a string, b double"
    )
    right = spark.createDataFrame(
        [(i, f"v{i}" if i % 3 else "mut", float(i)) for i in range(2, 12)],
        "o_orderkey int, a string, b double",
    )
    got = {r.status: r.n for r in diff_summary(left, right).collect()}
    # keys 0,1 removed; 10,11 added; of 2..9: i in {3,6,9} mutated on
    # the right ("mut") — i%3==0 → changed; note 0 was removed
    assert got == {"added": 2, "removed": 2, "changed": 3, "unchanged": 5}


def test_validation(spark):
    df = spark.createDataFrame([(1,)], "o_orderkey int")
    with pytest.raises(ValueError, match="no payload column"):
        table_diff(df, df)


def test_partition_invariance(spark):
    left_rows = [(i, f"v{i % 7}", float(i % 5)) for i in range(40)]
    right_rows = [(i, f"v{(i + (i % 3 == 0)) % 7}", float(i % 5)) for i in range(5, 45)]
    want = None
    for parts in (1, 3, 17):
        left = spark.createDataFrame(left_rows, "o_orderkey int, a string, b double").repartition(parts)
        right = spark.createDataFrame(right_rows, "o_orderkey int, a string, b double").repartition(parts)
        got = sorted(
            (r.o_orderkey, r.status) for r in table_diff(left, right).collect()
        )
        if want is None:
            want = got
        else:
            assert got == want, f"diff differs at {parts} partitions"
