"""Tests for the skew-salting primitives and sessionization: salting
must be semantically invisible (same rows as the plain operation) and
the gap rule must split/merge sessions exactly at the boundary.
"""

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.skew import (
    replicate_for_salt,
    salted_join,
    with_salt,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import sessionize


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (k=1) with 50 rows, two cold keys
    rows = [(1, i * 1.0) for i in range(50)] + [(2, 1.0), (3, 2.0)]
    return spark.createDataFrame(rows, "k int, v double")


class TestSalting:
    def test_salt_is_deterministic_and_bounded(self, skewed):
        a = with_salt(skewed).collect()
        b = with_salt(skewed).collect()
        assert sorted(map(str, a)) == sorted(map(str, b))
        assert all(0 <= r["__salt"] < 8 for r in a)

    def test_hot_key_spreads_over_buckets(self, skewed):
        salts = {
            r["__salt"]
            for r in with_salt(skewed).filter("k = 1").collect()
        }
        assert len(salts) > 1  # 50 rows of one key never land in one bucket

    def test_replication_covers_every_salt(self, spark):
        dim = spark.createDataFrame([(1, "a")], "k int, name string")
        out = replicate_for_salt(dim).collect()
        assert sorted(r["__salt"] for r in out) == list(range(8))

    def test_salted_join_equals_plain_join(self, spark, skewed):
        dim = spark.createDataFrame(
            [(1, "hot"), (2, "cold"), (4, "orphan")], "c_custkey int, name string"
        )
        fact = skewed.withColumnRenamed("k", "c_custkey")
        plain = fact.join(dim, on="c_custkey").select("c_custkey", "v", "name")
        salted = salted_join(fact, dim).select("c_custkey", "v", "name")
        assert sorted(map(str, plain.collect())) == sorted(map(str, salted.collect()))


class TestSessionize:
    def test_gap_boundary_splits(self, spark):
        df = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", 1.0),
                (1, "2024-01-01 00:29:59", 1.0),  # < gap → same session
                (1, "2024-01-01 00:59:59", 1.0),  # exactly gap → still MERGES
                (1, "2024-01-01 01:30:00", 1.0),  # 30:01 later → NEW session
                (2, "2024-01-01 00:00:00", 5.0),
            ],
            "user_id long, ts_s string, value double",
        ).withColumn("ts", F.to_timestamp("ts_s"))
        out = sessionize(df).orderBy("user_id", "session_start")
        rows = out.collect()
        u1 = [r for r in rows if r.user_id == 1]
        assert [r.n_events for r in u1] == [3, 1]
        assert str(u1[0].session_start) == "2024-01-01 00:00:00"
        assert str(u1[0].last_ts) == "2024-01-01 00:59:59"
        assert str(u1[1].session_start) == "2024-01-01 01:30:00"
        u2 = [r for r in rows if r.user_id == 2]
        assert len(u2) == 1 and u2[0].sum_value == 5.0


class TestNearDupRemoval:
    def test_removes_larger_ids_of_pairs(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import near_dup_removal

        base = "the quick brown fox jumps over the lazy dog near the river bank today"
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, "something else entirely about query engines and columnar storage")],
            "doc_id long, text string",
        )
        out = sorted(r.doc_id for r in near_dup_removal(df).collect())
        assert out == [1, 3]


class TestCosineNearDup:
    def test_finds_parallel_vectors_in_same_bucket(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import EMBEDDING_DIM, cosine_near_dup_pairs

        v = [1.0] + [0.01] * (EMBEDDING_DIM - 1)
        w = [1.0] + [0.011] * (EMBEDDING_DIM - 1)  # nearly parallel
        anti = [-x for x in v]
        df = spark.createDataFrame(
            [(1, v), (2, w), (3, anti)], "vec_id long, embedding array<float>"
        )
        pairs = {(r.id_a, r.id_b): r.cos_sim for r in cosine_near_dup_pairs(df).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
        assert not any(3 in p for p in pairs)  # opposite vector: different bucket


def test_sessionize_gap_rule_property(spark):
    """Property (hypothesis): for arbitrary event offsets, session
    boundaries match the reference rule — split iff the gap since the
    previous event is STRICTLY greater than the gap parameter."""
    import datetime as dt

    from hypothesis import given, settings, strategies as st

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import sessionize

    t0 = dt.datetime(2024, 1, 1)
    GAP_MIN = 30

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=6 * 60),
            min_size=1,
            max_size=12,
            unique=True,
        )
    )
    def check(offsets):
        rows = [(1, t0 + dt.timedelta(minutes=m), 1.0) for m in offsets]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        )
        got = sorted(
            (r.session_start, r.n_events)
            for r in sessionize(df).collect()
        )
        # python reference: split when diff > gap (boundary merges)
        expected = []
        for m in sorted(offsets):
            if expected and (m - expected[-1][-1]) <= GAP_MIN:
                expected[-1].append(m)
            else:
                expected.append([m])
        ref = sorted(
            (t0 + dt.timedelta(minutes=sess[0]), len(sess))
            for sess in expected
        )
        assert got == ref

    check()
