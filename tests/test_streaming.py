"""Streaming-slice tests (SURVEY.md §2.10): batch/stream unification,
availableNow replay determinism, and the append-mode watermark
semantics the batch oracle can't express (held-back trailing window,
late-data drop).
"""

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.streaming import (
    run_available_now,
    stream_events,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def batch_events(spark, smoke_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    return load_table(spark, smoke_dir, "events")


def test_stream_matches_batch(spark, smoke_dir, batch_events):
    """The same tumbling_counts body over stream vs batch input must
    produce identical rows — Structured Streaming's unified model."""
    streamed = run_available_now(
        tumbling_counts(stream_events(spark, smoke_dir)),
        "t_stream_vs_batch",
        "complete",
    )
    batch = tumbling_counts(batch_events)
    key = lambda r: (str(r.window_start), r.event_type)
    s = {key(r): (r.n, r.sum_value) for r in streamed.collect()}
    b = {key(r): (r.n, r.sum_value) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_available_now_is_deterministic(spark, smoke_dir):
    a = run_available_now(
        tumbling_counts(stream_events(spark, smoke_dir)), "t_replay_a", "complete"
    ).collect()
    b = run_available_now(
        tumbling_counts(stream_events(spark, smoke_dir)), "t_replay_b", "complete"
    ).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_available_now_jobs_carry_the_callers_job_tag(spark, smoke_dir):
    """Micro-batch jobs run on the stream execution thread under a job
    group of their own (the query's run id), so ``setJobGroup`` cannot
    attribute them to the caller — but the caller's job TAGS reach
    them.  Read back from the status store: every job the run started
    carries the tag."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def tags_by_job():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        out = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            tags = job.jobTags()
            out[job.jobId()] = {tags.apply(k) for k in range(tags.size())}
        return out

    before = set(tags_by_job())
    sc.addJobTag("t_available_now_tag")
    try:
        run_available_now(
            tumbling_counts(stream_events(spark, smoke_dir)), "t_job_tags", "complete"
        )
    finally:
        sc.removeJobTag("t_available_now_tag")
    run = {j: t for j, t in tags_by_job().items() if j not in before}
    assert run, "the availableNow run started no job"
    assert all("t_available_now_tag" in t for t in run.values()), run


def test_sliding_doubles_contributions(spark, smoke_dir, batch_events):
    """1h window / 30m slide: every event lands in exactly 2 windows,
    so total n across windows is 2x the event count; stream == batch."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import sliding_counts

    streamed = run_available_now(
        sliding_counts(stream_events(spark, smoke_dir)),
        "t_sliding_stream",
        "complete",
    )
    batch = sliding_counts(batch_events)
    key = lambda r: (str(r.window_start), r.event_type)
    s = {key(r): (r.n, r.sum_value) for r in streamed.collect()}
    b = {key(r): (r.n, r.sum_value) for r in batch.collect()}
    assert s == b
    assert sum(n for n, _ in s.values()) == 2 * batch_events.count()


def test_stream_stream_interval_join_matches_batch(spark, smoke_dir, batch_events):
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    def split(ev):
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("l_ts"),
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("r_ts"), F.col("value").alias("p_value")
        )
        return clicks, purchases

    sc, sp = split(stream_events(spark, smoke_dir))
    streamed = run_available_now(
        stream_stream_interval_join(sc, sp), "ssj_test_sink", "append"
    )
    bc, bp = split(batch_events)
    batch = stream_stream_interval_join(bc, bp)
    key = lambda r: (r.user_id, r.c_event_id, r.r_ts)
    assert sorted(map(key, streamed.collect())) == sorted(map(key, batch.collect()))
    assert batch.count() > 0


def test_stream_merge_to_parquet_dedupes_across_batches(spark, tmp_path):
    """foreachBatch merge sink: the second run's batch REPLACES
    same-key rows instead of appending duplicates."""
    import datetime as dt

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
        stream_merge_to_parquet,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)
    schema = "user_id long, event_type string, ts timestamp, payload string"
    spark.createDataFrame(
        [(1, "a", t0, "v1"), (2, "b", t0, "v1")], schema
    ).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        stream_merge_to_parquet(stream, table, ckpt)

    run_once()
    # second wave: user 2 updated (a newer version), user 3 new
    spark.createDataFrame(
        [(2, "b", t1, "v2"), (3, "b", t0, "v1")], schema
    ).write.mode("append").parquet(src)
    run_once()
    got = {
        (r.user_id, r.event_type): r.payload
        for r in spark.read.parquet(table).collect()
    }
    assert got == {(1, "a"): "v1", (2, "b"): "v2", (3, "b"): "v1"}


def test_max_files_per_trigger_bounds_micro_batches(spark, tmp_path):
    """Backpressure knob: ``maxFilesPerTrigger=1`` must split a 3-file
    backlog into 3 micro-batches (bounded per-batch state/memory — the
    catch-up-safely setting after downtime), and availableNow drains
    the whole backlog."""
    src = str(tmp_path / "rate_src")
    for i in range(3):
        spark.createDataFrame(
            [(i, float(i))], "k long, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    seen = []

    def _count(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_count)
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) == 3
    assert sum(n for _, n in seen) == 3


def test_stream_increment_counts_adds_partials_across_batches(spark, tmp_path):
    """Additive merge sink (incremental materialized view): each wave's
    per-key partial counts/sums ADD into the view; the final view
    equals the batch aggregate over all waves."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
        stream_increment_counts_to_parquet,
    )

    src = str(tmp_path / "inc_src")
    table = str(tmp_path / "inc_table")
    ckpt = str(tmp_path / "inc_ckpt")
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "event_type string, value double"
    ).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("event_type string, value double").parquet(src)
        stream_increment_counts_to_parquet(stream, table, ckpt)

    run_once()
    spark.createDataFrame(
        [("a", 4.0), ("c", 100.0)], "event_type string, value double"
    ).write.mode("append").parquet(src)
    run_once()
    got = {r.event_type: (r.n, r.s) for r in spark.read.parquet(table).collect()}
    assert got == {"a": (3, 7.0), "b": (1, 10.0), "c": (1, 100.0)}


def test_stream_increment_counts_partition_pruned_rewrite(spark, tmp_path):
    """Partitioned additive merge: a batch that touches ONE partition
    must leave sibling partitions' files byte-untouched (pruned read +
    dynamic overwrite of only the touched directories), while the view
    still converges to the batch aggregate."""
    import glob
    import os

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
        stream_increment_counts_to_parquet,
    )

    src = str(tmp_path / "pinc_src")
    table = str(tmp_path / "pinc_table")
    ckpt = str(tmp_path / "pinc_ckpt")
    schema = "event_type string, value double"
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], schema
    ).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        stream_increment_counts_to_parquet(stream, table, ckpt)

    run_once()

    def snapshot(key: str) -> dict[str, tuple[int, float]]:
        files = glob.glob(os.path.join(table, f"event_type={key}", "*.parquet"))
        return {
            f: (os.path.getsize(f), os.path.getmtime(f)) for f in files
        }

    before_a, before_b = snapshot("a"), snapshot("b")
    assert before_a and before_b
    # second wave touches ONLY event_type b (and the new c)
    spark.createDataFrame(
        [("b", 5.0), ("c", 100.0)], schema
    ).write.mode("append").parquet(src)
    run_once()
    # untouched partition: identical file set, sizes, and mtimes
    assert snapshot("a") == before_a
    # touched partition: rewritten
    assert snapshot("b") != before_b
    got = {
        r.event_type: (r.n, r.s) for r in spark.read.parquet(table).collect()
    }
    assert got == {"a": (2, 3.0), "b": (2, 15.0), "c": (1, 100.0)}


def test_merge_sinks_distinguish_missing_from_unreadable(spark, tmp_path):
    """Bootstrap-vs-broken: a missing path and a _SUCCESS-only
    directory hold no table, so a sink may bootstrap there; a corrupt
    part file IS a table, and a merge sink or an index erasure must
    fail on it rather than reinitialize or skip it."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import (
        delete_from_ivf_index,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
        hadoop_table_exists,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
        stream_merge_to_parquet,
    )

    assert not hadoop_table_exists(spark, str(tmp_path / "missing"))
    success_only = tmp_path / "success_only"
    success_only.mkdir()
    (success_only / "_SUCCESS").write_bytes(b"")
    assert not hadoop_table_exists(spark, str(success_only))

    corrupt = tmp_path / "corrupt"
    part = corrupt / "y=1" / "part-00000.parquet"
    part.parent.mkdir(parents=True)
    part.write_bytes(b"not a parquet file")
    (corrupt / "_SUCCESS").write_bytes(b"")
    assert hadoop_table_exists(spark, str(corrupt))

    src = str(tmp_path / "src")
    schema = "user_id long, event_type string, ts long, v string"
    spark.createDataFrame([(1, "1", 1, "a")], schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    with pytest.raises(Exception):
        stream_merge_to_parquet(stream, str(corrupt), str(tmp_path / "ckpt"))
    # nothing bootstrapped over the unreadable table
    assert part.read_bytes() == b"not a parquet file"

    cell = tmp_path / "idx" / "cells" / "cell_id=0" / "part-00000.parquet"
    cell.parent.mkdir(parents=True)
    cell.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        delete_from_ivf_index(
            spark.createDataFrame([(1,)], "vec_id long"), str(tmp_path / "idx")
        )


def test_stream_dedup_ingest_sequential_admission(spark, tmp_path):
    """Streaming dedup ingest: batch k must anti-join against the
    admitted corpus of ALL prior batches.  Regression pin for the
    stale-cache bug: the banded staging persists fragments over the
    corpus path, and without a per-batch release Spark's cache manager
    substitutes batch k-1's file listing into batch k's corpus read —
    wave-2 near-dups of wave-1 docs were silently admitted."""
    import glob
    import os
    import shutil

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_dedup_ingest_to_parquet,
    )

    T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    T_NEAR = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    waves = [
        [(1, "one two three four five six seven", "en", 10)],
        # wave 1: intra-batch exact dup (21 dropped, 20 kept) + T
        [(2, T, "en", 10), (20, "same same same text here", "en", 9),
         (21, "same same same text here", "en", 9)],
        # wave 2: near-dup of wave-1's T (reject), exact dup of wave-0
        # (reject), genuinely new (admit)
        [(3, T_NEAR, "en", 10),
         (4, "one two three four five six seven", "en", 10),
         (5, "completely different content lives in this row", "en", 11)],
    ]
    src = str(tmp_path / "ing_src")
    table = str(tmp_path / "ing_table")
    ckpt = str(tmp_path / "ing_ckpt")
    os.makedirs(src)
    schema = "doc_id long, text string, lang string, n_chars long"
    for k, rows in enumerate(waves):
        stage = str(tmp_path / f"ing_stage{k}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        dst = os.path.join(src, f"wave{k}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_dedup_ingest_to_parquet(stream, table, ckpt)
    got = {
        r.doc_id: r.ingest_batch
        for r in spark.read.parquet(table).collect()
    }
    assert got == {1: 0, 2: 1, 20: 1, 5: 2}


def test_stream_dedup_ingest_replay_ignores_own_partition(spark, tmp_path):
    """Crash-replay pin: a crash between batch k's partition write and
    its checkpoint commit leaves table/<batch>=k on disk.  The replay
    must NOT read that partition back as corpus — docs would reject as
    exact SELF-duplicates and the partition would be overwritten
    empty (silent loss).  Simulated by pre-seeding the batch-2
    partition with the crashed attempt's output before the stream
    runs."""
    import glob
    import os
    import shutil

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_dedup_ingest_to_parquet,
    )

    schema = "doc_id long, text string, lang string, n_chars long"
    waves = [
        [(1, "one two three four five six seven", "en", 10)],
        [(2, "alpha beta gamma delta epsilon zeta", "en", 10)],
        [(5, "completely different content lives in this row", "en", 11)],
    ]
    src = str(tmp_path / "rp_src")
    table = str(tmp_path / "rp_table")
    ckpt = str(tmp_path / "rp_ckpt")
    os.makedirs(src)
    for k, rows in enumerate(waves):
        stage = str(tmp_path / f"rp_stage{k}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        dst = os.path.join(src, f"wave{k}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
    # crashed batch-2 attempt: its own admitted output already on disk
    spark.createDataFrame(waves[2], schema).write.mode("overwrite").parquet(
        f"{table}/ingest_batch=2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_dedup_ingest_to_parquet(stream, table, ckpt)
    got = {
        r.doc_id: r.ingest_batch
        for r in spark.read.parquet(table).collect()
    }
    assert got == {1: 0, 2: 1, 5: 2}  # doc 5 survives the replay


def _stage_doc_waves(spark, tmp_path, waves, prefix):
    """One single-file parquet wave per list, mtime-ordered."""
    import glob
    import os
    import shutil

    src = str(tmp_path / f"{prefix}_src")
    os.makedirs(src)
    schema = "doc_id long, text string, lang string, n_chars long"
    for k, rows in enumerate(waves):
        stage = str(tmp_path / f"{prefix}_stage{k}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        dst = os.path.join(src, f"wave{k}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


# chain fixture for the keep-first-over-all-seen semantics: B is a
# near-dup of A (J=0.778), C is a near-dup of B (J=0.6) but NOT of A
# (J=0.455 < 0.5) — band collisions verified deterministic for the
# salted-md5 MinHash at the default 6 hashes / 3 bands
_DOC_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_DOC_B = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
_DOC_C = "mu nu gamma delta epsilon zeta eta theta iota lambda"


def test_stream_doc_dedup_rejected_doc_vetoes_later_dups(spark, tmp_path):
    """THE contract that distinguishes global keep-first from
    admitted-corpus admission: wave-1's B is rejected (near-dup of
    wave-0's A), and wave-2's C — a near-dup of the REJECTED B but not
    of A — must still be rejected, because every SEEN doc vetoes.
    (stream_dedup_ingest would admit C.)  Also pins intra-batch
    keep-first: an exact dup inside one wave keeps the min-id copy,
    and a NULL-text doc is exempt from the exact check."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_doc_dedup_to_parquet,
    )

    waves = [
        [(1, _DOC_A, "en", 10), (10, None, "en", 0), (11, None, "en", 0)],
        [(2, _DOC_B, "en", 10),
         (20, "same same same text here", "en", 9),
         (21, "same same same text here", "en", 9)],
        [(3, _DOC_C, "en", 10),
         (5, "completely different content lives in this row", "en", 11)],
    ]
    stream = _stage_doc_waves(spark, tmp_path, waves, "gkf")
    table = str(tmp_path / "gkf_table")
    stream_doc_dedup_to_parquet(
        stream, table, str(tmp_path / "gkf_ckpt"), str(tmp_path / "gkf_idx")
    )
    got = {
        r.doc_id: r.ingest_batch
        for r in spark.read.parquet(table).collect()
    }
    # 1=A admitted; 10,11 NULL-text both admitted (exact-check exempt);
    # 20 keeps min-id of the intra-wave exact pair; B(2), C(3) rejected
    assert got == {1: 0, 10: 0, 11: 0, 20: 1, 5: 2}
    # the index remembers EVERY seen doc, rejected ones included
    idx = spark.read.parquet(str(tmp_path / "gkf_idx"))
    assert sorted(r.doc_id for r in idx.collect()) == [1, 2, 3, 5, 10, 11, 20, 21]


def test_stream_doc_dedup_equals_global_batch(spark, tmp_path):
    """Associativity pin: the accumulated streaming result equals the
    one-shot GLOBAL keep-first over all docs at once — first occurrence
    of each content hash, minus every id_b of the full banded pair
    relation."""
    from pyspark.sql import Window

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import near_dup_pairs_banded
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_doc_dedup_to_parquet,
    )

    waves = [
        [(1, _DOC_A, "en", 10), (4, "one two three four five six seven", "en", 10)],
        [(2, _DOC_B, "en", 10), (6, "one two three four five six seven", "en", 10)],
        [(3, _DOC_C, "en", 10),
         (5, "completely different content lives in this row", "en", 11)],
    ]
    stream = _stage_doc_waves(spark, tmp_path, waves, "assoc")
    table = str(tmp_path / "assoc_table")
    stream_doc_dedup_to_parquet(
        stream, table, str(tmp_path / "assoc_ckpt"), str(tmp_path / "assoc_idx")
    )
    streamed = sorted(
        r.doc_id for r in spark.read.parquet(table).collect()
    )
    all_rows = [r for w in waves for r in w]
    df = spark.createDataFrame(
        all_rows, "doc_id long, text string, lang string, n_chars long"
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    exact_first = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("text").isNull() | (F.col("__rn") == 1))
        .select("doc_id")
    )
    dropped = near_dup_pairs_banded(df).select(
        F.col("id_b").alias("doc_id")
    )
    release_staging()
    want = sorted(
        r.doc_id
        for r in exact_first.join(dropped, "doc_id", "left_anti").collect()
    )
    assert streamed == want == [1, 4, 5]


def test_stream_doc_dedup_replay_ignores_own_partition(spark, tmp_path):
    """Crash-replay pin (same construction as the admission ingest):
    a crashed batch-2 attempt leaves BOTH its corpus partition and its
    all-seen index partition on disk; the replay must not read either
    back (its own index features would reject every doc as an exact
    self-duplicate) — doc 5 survives."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        _delta_features,
        stream_doc_dedup_to_parquet,
    )

    waves = [
        [(1, "one two three four five six seven", "en", 10)],
        [(2, "alpha beta gamma delta epsilon zeta", "en", 10)],
        [(5, "completely different content lives in this row", "en", 11)],
    ]
    table = str(tmp_path / "dr_table")
    index = str(tmp_path / "dr_index")
    schema = "doc_id long, text string, lang string, n_chars long"
    spark.createDataFrame(waves[2], schema).write.mode("overwrite").parquet(
        f"{table}/ingest_batch=2"
    )
    _delta_features(spark.createDataFrame(waves[2], schema)).write.mode("overwrite").parquet(f"{index}/ingest_batch=2")
    stream = _stage_doc_waves(spark, tmp_path, waves, "dr")
    stream_doc_dedup_to_parquet(
        stream, table, str(tmp_path / "dr_ckpt"), index
    )
    got = {
        r.doc_id: r.ingest_batch
        for r in spark.read.parquet(table).collect()
    }
    assert got == {1: 0, 2: 1, 5: 2}


def test_stream_increment_counts_partial_commit_replay(spark, tmp_path):
    """Per-partition replay watermark: if a crash mid-commit leaves one
    touched partition committed and another not, the replayed batch
    must re-merge ONLY the uncommitted partition — a global
    max(__max_batch_id) skip would drop its partials forever.
    Simulated by deleting one partition's directory after a clean run
    (as if its overwrite never committed) and forcing a full replay
    via a fresh checkpoint."""
    import shutil

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
        stream_increment_counts_to_parquet,
    )

    src = str(tmp_path / "pc_src")
    table = str(tmp_path / "pc_table")
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)],
        "event_type string, value double",
    ).write.mode("append").parquet(src)

    def run(ckpt):
        stream = spark.readStream.schema("event_type string, value double").parquet(
            src
        )
        stream_increment_counts_to_parquet(stream, table, ckpt)

    run(str(tmp_path / "pc_ckpt1"))
    # crash simulation: partition event_type=b's overwrite never committed
    shutil.rmtree(f"{table}/event_type=b")
    # full replay of batch 0 (fresh checkpoint)
    run(str(tmp_path / "pc_ckpt2"))
    got = {r.event_type: (r.n, r.s) for r in spark.read.parquet(table).collect()}
    # a untouched by the replay (not double-added); b restored
    assert got == {"a": (2, 3.0), "b": (1, 10.0)}


def test_stream_increment_counts_numeric_shaped_string_partition(spark, tmp_path):
    """Replay skip under a string partition key with NUMERIC shape
    (r5 ADVICE): "01" round-trips through the directory name as
    inferred int 1, so the raw tuple compare never matched the 'done'
    set — a replayed batch double-added its partials and the rewrite
    landed in a second directory (event_type=1 beside event_type=01).  The sink now
    reads the view with partition-type inference off and casts to the
    batch frame's own dtypes."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
        stream_increment_counts_to_parquet,
    )

    src = str(tmp_path / "ns_src")
    table = str(tmp_path / "ns_table")
    spark.createDataFrame(
        [("01", 1.0), ("01", 2.0), ("2", 10.0)],
        "event_type string, value double",
    ).write.mode("append").parquet(src)

    def run(ckpt):
        stream = spark.readStream.schema("event_type string, value double").parquet(src)
        stream_increment_counts_to_parquet(stream, table, ckpt)

    run(str(tmp_path / "ns_ckpt1"))
    # full replay of batch 0 (fresh checkpoint): every partition is
    # already committed, so the replay must be a complete no-op
    run(str(tmp_path / "ns_ckpt2"))
    import glob as _glob
    dirs = sorted(
        p.rsplit("/", 1)[1]
        for p in _glob.glob(f"{table}/event_type=*")
    )
    assert dirs == ["event_type=01", "event_type=2"], dirs  # no stray event_type=1
    # read back with inference off so event_type keeps its written string form
    prev = spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    )
    try:
        got = {
            r.event_type: (r.n, r.s)
            for r in spark.read.parquet(table).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionColumnTypeInference.enabled", prev
        )
    assert got == {"01": (2, 3.0), "2": (1, 10.0)}


def test_stream_line_dedup_sequential_lines(spark, tmp_path):
    """Streaming line dedup: a long line admitted in an earlier batch
    must drop from every later batch's documents (while short lines
    and fresh lines survive), within-batch duplicates keep their
    first (id, pos) copy, and documents reassemble in order."""
    import glob
    import os
    import shutil

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_line_dedup_to_parquet,
    )

    boiler = "this exact boilerplate navigation line repeats everywhere"
    fresh = "a genuinely new long line that nobody wrote before this"
    waves = [
        [(1, f"intro\n{boiler}\nbody one")],
        # wave 1: boiler seen in wave 0 -> drops; intra-batch dup of
        # `fresh` between docs 2 and 3 -> doc 2 (lower id) keeps it
        [(2, f"{fresh}\nshort"), (3, f"also\n{fresh}")],
        [(4, f"{boiler}\n{fresh}\nclosing words")],
    ]
    src = str(tmp_path / "ld_src")
    table = str(tmp_path / "ld_table")
    ckpt = str(tmp_path / "ld_ckpt")
    os.makedirs(src)
    schema = "doc_id long, text string"
    for k, rows in enumerate(waves):
        stage = str(tmp_path / f"ld_stage{k}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        dst = os.path.join(src, f"wave{k}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_line_dedup_to_parquet(stream, table, ckpt)
    got = {r.doc_id: r for r in spark.read.parquet(table).collect()}
    assert got[1].clean_text == f"intro\n{boiler}\nbody one"
    assert got[1].ingest_batch == 0 and got[1].n_removed == 0
    assert got[2].clean_text == f"{fresh}\nshort"
    assert got[3].clean_text == "also" and got[3].n_removed == 1
    assert got[4].clean_text == "closing words" and got[4].n_removed == 2


def test_stream_line_dedup_replay_ignores_own_partition(spark, tmp_path):
    """Crash-replay pin for the line ingest (same construction as the
    doc-level ingests): a crashed batch-2 attempt leaves its cleaned
    partition on disk; the replay must not read its own kept lines
    back as prior state — doc 5's long line would otherwise drop as a
    duplicate of itself."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import line_dedup
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_line_dedup_to_parquet,
    )

    fresh = "a genuinely new long line that nobody wrote before this"
    waves = [
        [(1, "one two three four five six seven", "en", 10)],
        [(2, "alpha beta gamma delta epsilon zeta", "en", 10)],
        [(5, f"{fresh}\nclosing", "en", 11)],
    ]
    table = str(tmp_path / "lr_table")
    schema = "doc_id long, text string, lang string, n_chars long"
    line_dedup(spark.createDataFrame(waves[2], schema)).write.mode(
        "overwrite"
    ).parquet(f"{table}/ingest_batch=2")
    stream = _stage_doc_waves(spark, tmp_path, waves, "lr")
    stream_line_dedup_to_parquet(stream, table, str(tmp_path / "lr_ckpt"))
    got = {r.doc_id: r for r in spark.read.parquet(table).collect()}
    assert sorted(got) == [1, 2, 5]
    assert got[5].ingest_batch == 2
    assert got[5].clean_text == f"{fresh}\nclosing" and got[5].n_removed == 0


def test_failed_micro_batch_releases_its_staging(spark, tmp_path, monkeypatch):
    """A micro-batch that raises after staging must not leak the
    staging it registered on the stream thread: the drain releases it
    before the failure surfaces as a StreamingQueryException."""
    from pyspark.errors import StreamingQueryException

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import dedup
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import (
        release_all_staging,
        stage,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_line_dedup_to_parquet,
    )

    def _stage_then_fail(df, **kwargs):
        stage(df)
        raise RuntimeError("injected micro-batch failure")

    monkeypatch.setattr(dedup, "line_dedup", _stage_then_fail)
    release_all_staging()
    stream = _stage_doc_waves(
        spark, tmp_path, [[(1, "one two three four five six seven", "en", 10)]],
        "fail",
    )
    with pytest.raises(StreamingQueryException):
        stream_line_dedup_to_parquet(
            stream, str(tmp_path / "fail_table"), str(tmp_path / "fail_ckpt")
        )
    assert release_all_staging() == 0
