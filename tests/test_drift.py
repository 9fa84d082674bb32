"""Drift-monitor suite (operators/drift.py): PSI, exact two-sample
KS, and χ² category drift, each through its one Spark path (freeze or
count the reference side, then score the current side — the path the
batch entries and the streaming monitors share) — semantics pinned
on hand-computable fixtures, the KS two-level decomposition proven
against the naive single-window formulation, and the dirty-data contract (NULL/NaN/Inf
values, empty sides, constant distributions, one-sided categories)
exercised the way the injection waves exercise the older families.
"""

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import (
    PSI_BUCKETS,
    chi2_drift_frozen,
    chi2_freeze_reference,
    ks_2sample,
    ks_side_counts,
    psi_freeze_reference,
    psi_profile_frozen,
)

NAN = float("nan")
INF = float("inf")


def _vals(spark, xs):
    return spark.createDataFrame([(float(x),) for x in xs], "value double")


SPINE = list(range(1, PSI_BUCKETS + 1))


def _psi(ref, cur):
    return psi_profile_frozen(cur, psi_freeze_reference(ref))


def _ks(a, b):
    return ks_2sample(ks_side_counts(a), b)


def _chi2(ref, cur):
    return chi2_drift_frozen(cur, chi2_freeze_reference(ref))


# ---------------------------------------------------------------- PSI


def test_psi_identical_distributions_near_zero(spark):
    ref = _vals(spark, range(100))
    rows = _psi(ref, _vals(spark, range(100))).collect()
    assert [r.bucket for r in rows] == SPINE
    # identical sides: shares equal per bucket -> every term is 0
    for r in rows:
        assert r.psi_term == 0.0
        assert r.psi_total == 0.0
        assert r.ref_n == r.cur_n


def test_psi_shifted_distribution_flags(spark):
    ref = _vals(spark, range(100))
    cur = _vals(spark, range(80, 180))  # mass moved to the top bucket
    rows = _psi(ref, cur).collect()
    total = rows[0].psi_total
    assert total > 0.2  # conventional "major shift" alarm
    by_bucket = {r.bucket: r for r in rows}
    # 90% of current mass lands above the reference's last edge
    assert by_bucket[10].cur_n == 90  # >89.1 edge catches 90..179
    assert by_bucket[9].cur_n == 10  # 80..89 sit in (79.2, 89.1]
    assert by_bucket[1].cur_n == 0


def test_psi_smoothing_keeps_one_sided_buckets_finite(spark):
    ref = _vals(spark, range(10))
    cur = _vals(spark, [100.0] * 5)  # all current mass beyond ref max
    rows = _psi(ref, cur).collect()
    for r in rows:
        assert r.psi_term is not None and math.isfinite(r.psi_term)
        assert math.isfinite(r.psi_total)


def test_psi_drops_nonfinite_values(spark):
    ref = _vals(spark, list(range(8)) + [NAN, INF, -INF])
    cur = spark.createDataFrame(
        [(0.5,), (None,), (NAN,), (7.0,)], "value double"
    )
    rows = _psi(ref, cur).collect()
    assert sum(r.ref_n for r in rows) == 8
    assert sum(r.cur_n for r in rows) == 2


def test_psi_constant_reference_collapses_deterministically(spark):
    # all edges equal -> comparison sum sends every row to bucket 1
    ref = _vals(spark, [5.0] * 20)
    cur = _vals(spark, [5.0] * 10 + [9.0] * 10)
    rows = _psi(ref, cur).collect()
    # 5.0 > 5.0 fails every comparison -> bucket 1; 9.0 clears all
    # nine duplicate edges -> bucket 10.  The FULL spine is emitted:
    # buckets 2..9 are empty on both sides yet still present (with
    # N_ref = N_cur = 20 their smoothed term happens to be 0, but the
    # rows must exist — see the sizes-differ test below).
    assert [r.bucket for r in rows] == SPINE
    assert rows[0].ref_n == 20 and rows[0].cur_n == 10
    assert all((r.ref_n, r.cur_n) == (0, 0) for r in rows[1:-1])
    assert rows[-1].ref_n == 0 and rows[-1].cur_n == 10
    # empty buckets report the real reference edges (all 5.0 here)
    assert rows[1].lo == 5.0 and rows[1].hi == 5.0


def test_psi_empty_bucket_term_counts_when_sizes_differ(spark):
    # N_ref != N_cur: a bucket empty on both sides has a NONZERO
    # smoothed term (0.5/(Nr+h) - 0.5/(Nc+h)) * ln(...) — the full
    # spine must include it or psi_total underreports
    ref = _vals(spark, [5.0] * 30)
    cur = _vals(spark, [9.0] * 10)
    rows = _psi(ref, cur).collect()
    assert [r.bucket for r in rows] == SPINE
    empty = [r for r in rows if r.ref_n == 0 and r.cur_n == 0]
    assert len(empty) == PSI_BUCKETS - 2
    assert all(r.psi_term != 0.0 for r in empty)
    total = rows[0].psi_total
    assert abs(sum(r.psi_term for r in rows) - total) < 1e-5


def test_psi_empty_current_scores_full_spine(spark):
    # an empty current side still scores every reference bucket:
    # cur_n is 0 throughout, ref_n carries the frozen counts
    ref = _vals(spark, range(10))
    cur = _vals(spark, []).where(F.lit(False))
    rows = _psi(ref, cur).collect()
    assert [r.bucket for r in rows] == SPINE
    assert all(r.cur_n == 0 for r in rows)
    assert sum(r.ref_n for r in rows) == 10
    assert all(math.isfinite(r.psi_term) for r in rows)


# ----------------------------------------------------------------- KS


def test_ks_identical_samples_zero(spark):
    a = _vals(spark, range(50))
    row = _ks(a, _vals(spark, range(50))).collect()[0]
    assert row.ks_stat == 0.0
    assert row.n_a == 50 and row.n_b == 50


def test_ks_disjoint_samples_one(spark):
    row = _ks(
        _vals(spark, range(10)), _vals(spark, range(100, 110))
    ).collect()[0]
    assert row.ks_stat == 1.0
    assert row.ks_at == 9.0  # gap saturates at a's max


def test_ks_hand_computed(spark):
    # F_a jumps 1/2 at 1 and 3; F_b jumps 1/2 at 2 and 4:
    # gaps at 1,2,3,4 are 1/2, 0, 1/2, 0 -> D = 0.5, first at v=1
    row = _ks(_vals(spark, [1, 3]), _vals(spark, [2, 4])).collect()[0]
    assert row.ks_stat == 0.5
    assert row.ks_at == 1.0


def test_ks_two_level_equals_naive_window(spark):
    # 500 skewed values with heavy ties vs a shifted copy — the
    # decomposition must equal the naive global-window CDF exactly
    a = _vals(spark, [i % 17 for i in range(500)])
    b = _vals(spark, [(i % 23) + 3 for i in range(400)])
    row = _ks(a, b).collect()[0]

    counts = (
        a.select(F.col("value").alias("v"), F.lit(1).alias("ca"), F.lit(0).alias("cb"))
        .unionByName(
            b.select(
                F.col("value").alias("v"), F.lit(0).alias("ca"), F.lit(1).alias("cb")
            )
        )
        .groupBy("v")
        .agg(F.sum("ca").alias("an"), F.sum("cb").alias("bn"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    naive = (
        counts.withColumn("cum_a", F.sum("an").over(w))
        .withColumn("cum_b", F.sum("bn").over(w))
        .withColumn("d", F.abs(F.col("cum_a") / 500.0 - F.col("cum_b") / 400.0))
        .agg(F.round(F.max("d"), 6).alias("d"))
        .collect()[0]
        .d
    )
    assert row.ks_stat == naive
    assert row.n_a == 500 and row.n_b == 400


def test_ks_empty_side_yields_null_stat(spark):
    empty = _vals(spark, []).where(F.lit(False))
    row = _ks(_vals(spark, [1.0, 2.0]), empty).collect()[0]
    assert row.ks_stat is None
    assert row.n_b == 0


def test_ks_nonfinite_values_drop(spark):
    a = _vals(spark, [1.0, 2.0, NAN, INF])
    b = spark.createDataFrame([(1.0,), (None,), (2.0,)], "value double")
    row = _ks(a, b).collect()[0]
    assert row.n_a == 2 and row.n_b == 2
    assert row.ks_stat == 0.0


# ---------------------------------------------------------------- χ²


def _cats(spark, pairs):
    return spark.createDataFrame(
        [(c,) for c, n in pairs for _ in range(n)], "event_type string"
    )


def test_chi2_identical_mix_zero(spark):
    ref = _cats(spark, [("a", 30), ("b", 20)])
    cur = _cats(spark, [("a", 60), ("b", 40)])  # same proportions, 2x size
    rows = _chi2(ref, cur).collect()
    assert all(r.contrib == 0.0 for r in rows)
    assert rows[0].chi2_total == 0.0
    assert rows[0].dof == 1


def test_chi2_hand_computed_2x2(spark):
    # classic 2x2: ref (10 a, 10 b), cur (15 a, 5 b)
    # expectations: e(a,ref)=12.5 e(b,ref)=7.5 same for cur
    # chi2 = 4 * (2.5^2/12.5 + 2.5^2/7.5)/... compute directly:
    ref = _cats(spark, [("a", 10), ("b", 10)])
    cur = _cats(spark, [("a", 15), ("b", 5)])
    rows = {r.category: r for r in _chi2(ref, cur).collect()}
    ea = 25 * 20 / 40.0  # row_n * side_n / N
    expect_a = (10 - ea) ** 2 / ea + (15 - ea) ** 2 / ea
    assert rows["a"].contrib == round(expect_a, 6)
    eb = 15 * 20 / 40.0
    expect_b = (10 - eb) ** 2 / eb + (5 - eb) ** 2 / eb
    assert rows["b"].contrib == round(expect_b, 6)
    assert rows["a"].chi2_total == round(
        round(expect_a, 6) + round(expect_b, 6), 6
    )


def test_chi2_category_in_one_side_only(spark):
    ref = _cats(spark, [("a", 10)])
    cur = _cats(spark, [("a", 5), ("new", 5)])
    rows = {r.category: r for r in _chi2(ref, cur).collect()}
    assert "new" in rows
    assert rows["new"].ref_n == 0 and rows["new"].cur_n == 5
    assert rows["new"].contrib > 0
    assert rows["a"].dof == 1


def test_chi2_null_categories_drop(spark):
    ref = spark.createDataFrame(
        [("a",), (None,), ("a",)], "event_type string"
    )
    cur = _cats(spark, [("a", 2)])
    rows = _chi2(ref, cur).collect()
    assert len(rows) == 1
    assert rows[0].ref_n == 2 and rows[0].cur_n == 2


def test_chi2_empty_current_guarded(spark):
    ref = _cats(spark, [("a", 4), ("b", 6)])
    cur = _cats(spark, []).where(F.lit(False))
    rows = _chi2(ref, cur).collect()
    # e_cur = 0 for every category -> guarded to 0; e_ref = row total
    for r in rows:
        assert r.cur_n == 0
        assert math.isfinite(r.contrib)
