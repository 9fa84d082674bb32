"""Streaming drift monitors (streaming/monitor.py): per-batch
profiles equal the batch operator given the same split, replay
overwrites rather than duplicates, and empty batches are scored (not
skipped) so written partitions align with declared batch indices.
"""

import os

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import (
    psi_freeze_reference,
    psi_profile_frozen,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_psi_monitor


def _vals(spark, xs):
    return spark.createDataFrame([(float(x),) for x in xs], "value double")


def _stage_single_wave(spark, df, base):
    """One single-file wave under base/src (the __spark_entry__
    staging in miniature)."""
    import glob
    import shutil

    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    tmp = os.path.join(base, "tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(src, "wave-0.parquet"))
    shutil.rmtree(tmp)
    return src


def _drain_one_wave(spark, monitor, ref, wave, base, order, ckpts=("ckpt",)):
    """Stage ``wave`` as a one-file stream source under ``base`` and
    drain it through ``monitor`` once per checkpoint in ``ckpts``, all
    into one output (a fresh checkpoint replays the wave under the
    SAME batch id).  Returns the output read back after each drain."""
    src = _stage_single_wave(spark, wave, base)
    out = os.path.join(base, "profiles")
    reads = []
    for ck in ckpts:
        stream = (
            spark.readStream.schema(wave.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        monitor(stream, ref, out, os.path.join(base, ck))
        reads.append(spark.read.parquet(out).orderBy(*order).collect())
    return reads


def _cats(spark, pairs):
    return spark.createDataFrame(
        [(c,) for c, n in pairs for _ in range(n)], "event_type string"
    )


def test_stream_batch_equals_batch_operator(spark, tmp_path):
    ref = _vals(spark, range(100))
    batch = _vals(spark, range(50, 150))
    base = str(tmp_path / "m1")
    src = _stage_single_wave(spark, batch, base)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "profiles")
    stream_psi_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    got = (
        spark.read.parquet(out)
        .orderBy("bucket")
        .select("bucket", "ref_n", "cur_n", "psi_term", "psi_total")
        .collect()
    )
    want = (
        psi_profile_frozen(batch, psi_freeze_reference(ref))
        .select("bucket", "ref_n", "cur_n", "psi_term", "psi_total")
        .collect()
    )
    assert got == want


def test_stream_replay_overwrites_not_duplicates(spark, tmp_path):
    ref = _vals(spark, range(100))
    batch = _vals(spark, range(30, 80))
    # fresh checkpoint = the wave replays with the SAME batch id; the
    # dynamic partition overwrite must leave one copy, not two
    first, second = _drain_one_wave(
        spark, stream_psi_monitor, ref, batch, str(tmp_path / "m2"),
        order=("bucket",), ckpts=("ckpt_a", "ckpt_b"),
    )
    assert second == first


def test_stream_empty_batch_scored_full_spine(spark, tmp_path):
    """An empty micro-batch is SCORED, not skipped: the written
    profile carries the full bucket spine with all-zero cur_n, so the
    written partitions stay aligned one-to-one with the twin's
    declared batch indices (a skipped batch would shift them)."""
    ref = _vals(spark, range(10))
    empty = _vals(spark, []).where(F.lit(False))
    (rows,) = _drain_one_wave(
        spark, stream_psi_monitor, ref, empty, str(tmp_path / "m3"),
        order=("bucket",),
    )
    assert [r.bucket for r in rows] == list(range(1, 11))
    assert all(r.cur_n == 0 for r in rows)
    assert all(r.ref_n >= 0 for r in rows) and sum(r.ref_n for r in rows) == 10


# --------------------------------------------------------- KS monitor


def test_stream_ks_batch_equals_batch_operator(spark, tmp_path):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import (
        ks_2sample,
        ks_side_counts,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_ks_monitor

    ref = _vals(spark, range(100))
    batch = _vals(spark, range(50, 150))
    base = str(tmp_path / "k1")
    src = _stage_single_wave(spark, batch, base)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "verdicts")
    stream_ks_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    got = (
        spark.read.parquet(out)
        .select("ks_stat", "ks_at", "n_a", "n_b")
        .collect()
    )
    want = ks_2sample(ks_side_counts(ref), batch).collect()
    assert got == want
    assert got[0].n_a == 100 and got[0].n_b == 100
    # CDFs: ref uniform on [0,100), batch on [50,150) -> max gap 0.5
    assert abs(got[0].ks_stat - 0.5) < 1e-9


def test_stream_ks_empty_batch_scored_null_stat(spark, tmp_path):
    """An empty micro-batch writes a one-row NULL-statistic verdict
    for its own batch id — aligned with the twin, never skipped."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_ks_monitor

    ref = _vals(spark, range(10))
    empty = _vals(spark, []).where(F.lit(False))
    (rows,) = _drain_one_wave(
        spark, stream_ks_monitor, ref, empty, str(tmp_path / "k2"),
        order=("ingest_batch",),
    )
    assert len(rows) == 1
    assert rows[0].ks_stat is None
    assert rows[0].n_a == 10 and rows[0].n_b == 0


def test_stream_ks_replay_overwrites_not_duplicates(spark, tmp_path):
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_ks_monitor

    ref = _vals(spark, range(60))
    batch = _vals(spark, range(20, 80))
    first, second = _drain_one_wave(
        spark, stream_ks_monitor, ref, batch, str(tmp_path / "k3"),
        order=("ingest_batch",), ckpts=("ckpt_a", "ckpt_b"),
    )
    assert second == first and len(first) == 1


# -------------------------------------------------------- χ² monitor


def test_stream_chi2_batch_equals_batch_operator(spark, tmp_path):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import (
        chi2_drift_frozen,
        chi2_freeze_reference,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_chi2_monitor

    ref = _cats(spark, [("a", 30), ("b", 20)])
    batch = _cats(spark, [("a", 10), ("b", 25), ("c", 5)])
    base = str(tmp_path / "c1")
    src = _stage_single_wave(spark, batch, base)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "profiles")
    stream_chi2_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    got = (
        spark.read.parquet(out)
        .orderBy("category")
        .select("category", "ref_n", "cur_n", "contrib", "chi2_total", "dof")
        .collect()
    )
    want = (
        chi2_drift_frozen(batch, chi2_freeze_reference(ref))
        .select("category", "ref_n", "cur_n", "contrib", "chi2_total", "dof")
        .collect()
    )
    assert got == want
    assert [r.category for r in got] == ["a", "b", "c"]
    assert got[2].ref_n == 0  # batch-only category surfaces


def test_stream_chi2_empty_batch_scored_zero_cur_n(spark, tmp_path):
    """An empty micro-batch is SCORED over the reference's categories
    with all-zero cur_n, aligned with the twin, never skipped."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_chi2_monitor

    ref = _cats(spark, [("a", 30), ("b", 20)])
    empty = _cats(spark, []).where(F.lit(False))
    (rows,) = _drain_one_wave(
        spark, stream_chi2_monitor, ref, empty, str(tmp_path / "c2"),
        order=("category",),
    )
    assert [(r.category, r.ref_n, r.cur_n) for r in rows] == [
        ("a", 30, 0),
        ("b", 20, 0),
    ]
    assert {r.ingest_batch for r in rows} == {0}


def test_stream_chi2_replay_overwrites_not_duplicates(spark, tmp_path):
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_chi2_monitor

    ref = _cats(spark, [("a", 30), ("b", 20)])
    batch = _cats(spark, [("a", 10), ("b", 25), ("c", 5)])
    first, second = _drain_one_wave(
        spark, stream_chi2_monitor, ref, batch, str(tmp_path / "c3"),
        order=("category",), ckpts=("ckpt_a", "ckpt_b"),
    )
    assert second == first and len(first) == 3
