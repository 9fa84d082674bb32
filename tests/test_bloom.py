"""Bloom-filter join pruning (operators/bloom.py).

The load-bearing property is NO FALSE NEGATIVES: the pruned join must
equal the plain join row-for-row on every input shape — duplicate keys
on either side, NULL keys on either side, an empty dimension, string
keys.  False positives are a bandwidth question only (the equi-join
removes them); the fpp test bounds them loosely so a hashing regression
(e.g. a degenerate double-hash stride) shows up as a blowout, not a
flaky percentage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.bloom import (
    NUM_BITS,
    build_bloom,
    bloom_prune,
    bloom_pruned_join,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def dim(spark):
    # 80 matching keys plus duplicates and a NULL dim key
    base = [(i, f"d{i}") for i in range(80)]
    dupes = [(7, "d7-dup"), (13, "d13-dup")]
    return spark.createDataFrame(
        base + dupes + [(None, "d-null")], "s_suppkey int, d_name string"
    )


@pytest.fixture(scope="module")
def fact(spark):
    # keys 0..399 → 20% match; plus NULL fact keys
    rows = [(i % 400, i) for i in range(4000)] + [(None, -1), (None, -2)]
    return spark.createDataFrame(rows, "l_suppkey int, payload int")


def test_inner_equals_plain_join(dim, fact):
    got = bloom_pruned_join(fact, dim)
    want = fact.join(dim, fact["l_suppkey"] == dim["s_suppkey"], "inner")
    assert _rows(got, "l_suppkey", "payload", "d_name") == _rows(
        want, "l_suppkey", "payload", "d_name"
    )


def test_string_keys(spark):
    dim = spark.createDataFrame(
        [("alpha",), ("beta",), ("γάμμα",)], "s_suppkey string"
    )
    fact = spark.createDataFrame(
        [(w, i) for i, w in enumerate(["alpha", "beta", "γάμμα", "delta", "x"] * 50)],
        "l_suppkey string, payload int",
    )
    got = bloom_pruned_join(fact, dim)
    want = fact.join(dim, fact["l_suppkey"] == dim["s_suppkey"], "inner")
    assert _rows(got, "l_suppkey", "payload") == _rows(want, "l_suppkey", "payload")


def test_empty_dim_yields_empty_join(spark, fact):
    empty = spark.createDataFrame([], "s_suppkey int, d_name string")
    got = bloom_pruned_join(fact, empty)
    assert got.count() == 0


def test_null_fact_keys_pruned_early(spark, dim, fact):
    pruned = bloom_prune(fact, build_bloom(dim))
    assert pruned.where(F.col("l_suppkey").isNull()).count() == 0


def test_fpp_bounded(spark):
    # disjoint keyspaces: every kept row is a false positive
    dim = spark.range(0, 1000).withColumnRenamed("id", "s_suppkey")
    fact = spark.range(10_000, 30_000).withColumnRenamed("id", "l_suppkey")
    # textbook sizing for 1000 keys at 1% needs m = 9,585 bits; at
    # NUM_BITS = 2^16 and NUM_HASHES = 5 the expected rate is
    # (1 - e^(-5·1000/2^16))^5 ≈ 0.0003%
    kept = bloom_prune(fact, build_bloom(dim)).count()
    # a 1% bound: headroom keeps the pin regression-only
    assert kept <= 0.01 * 20_000, f"fpp blowout: {kept}/20000 false positives"


def test_sketch_partition_invariant(spark):
    # bit_or is commutative/associative: the words map cannot depend on
    # layout — the sketch built at 1/3/17 partitions is byte-identical
    keys = [(i * 37 % 500,) for i in range(500)]
    want = None
    for parts in (1, 3, 17):
        df = spark.createDataFrame(keys, "s_suppkey int").repartition(parts)
        got = list(build_bloom(df).collect()[0][0])
        if want is None:
            want = got
        else:
            assert got == want, f"sketch differs at {parts} partitions"


def test_sketch_is_bounded(spark):
    # the sketch relation is ONE row holding a dense array of EXACTLY
    # NUM_BITS/64 words no matter the dimension size — that is both
    # the broadcast-safety contract and the O(1)-ordinal-lookup
    # contract (a map sketch would linear-scan per fact row)
    dim = spark.range(0, 50_000).withColumnRenamed("id", "s_suppkey")
    rows = build_bloom(dim).collect()
    assert len(rows) == 1
    assert len(rows[0][0]) == NUM_BITS // 64


def test_prune_filter_precedes_fact_shuffle(spark, dim, fact):
    """Plan pin: the bloom bit-test filter sits BELOW the fact side's
    join Exchange — pruning before shuffle is the operator's entire
    reason to exist.  Force a shuffle join so the Exchange is visible.
    """
    big_dim = dim.crossJoin(spark.range(1).drop("id"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = bloom_pruned_join(fact, big_dim)
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    # the bit-test predicate compiles to shiftleft(..) terms; it must
    # appear in the plan (i.e. not optimized away) and the pruned side
    # must still reach the sort-merge/shuffled-hash join
    assert "shiftleft" in plan
    assert "Exchange" in plan


def test_sketch_persists_and_reloads(spark, tmp_path):
    """The docstring's reuse claim: the sketch is a plain relation —
    write it to parquet, read it back in a fresh plan, prune with it.
    (Spark's injected runtime filter cannot do this; it is the whole
    point of the explicit operator.)"""
    dim = spark.range(0, 500).withColumnRenamed("id", "s_suppkey")
    fact = spark.range(0, 10_000).select(
        (F.col("id") % 2_000).alias("l_suppkey"), F.col("id").alias("payload")
    )
    path = str(tmp_path / "sketch")
    build_bloom(dim).write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    pruned = bloom_prune(fact, reloaded)
    joined = pruned.join(dim, pruned["l_suppkey"] == dim["s_suppkey"], "inner")
    want = fact.join(dim, fact["l_suppkey"] == dim["s_suppkey"], "inner")
    assert joined.count() == want.count()


def test_reloaded_sketch_params_self_describing(spark, tmp_path, monkeypatch):
    """A reloaded sketch needs NO caller-remembered params: bloom_prune
    reads the bit count off the sketch row itself, so a sketch written
    under another ``NUM_BITS`` still probes with its own geometry."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators import bloom

    dim = spark.range(0, 500).withColumnRenamed("id", "s_suppkey")
    fact = spark.range(0, 10_000).select(
        (F.col("id") % 2_000).alias("l_suppkey"), F.col("id").alias("payload")
    )
    path = str(tmp_path / "sketch_sd")
    with monkeypatch.context() as m:
        m.setattr(bloom, "NUM_BITS", 1 << 12)
        build_bloom(dim).write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    assert len(reloaded.first()[0]) == (1 << 12) // 64
    pruned = bloom_prune(fact, reloaded)
    joined = pruned.join(dim, pruned["l_suppkey"] == dim["s_suppkey"], "inner")
    want = fact.join(dim, fact["l_suppkey"] == dim["s_suppkey"], "inner")
    assert joined.count() == want.count()
