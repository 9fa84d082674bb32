"""Out-of-order / overlapping CDC delivery through the merge sinks.

The r8 probe class the idea bank called "overlapping CDC batch
replays": an at-least-once CDC source replays rows and delivers
batches out of order, so a later batch can carry a STALE version of a
key the table already updated.  The unversioned replace-merge is
last-DELIVERED-wins by contract (pinned below); the version-guarded
path (``upsert_by_key(version_col=...)`` / ``stream_merge_to_parquet``
→ ``latest_version_rows``) must converge to the
per-key latest-VERSION state under any schedule.  Probe twin:
scripts/probe_cdc_replay.py at c84e9fc.
"""

from __future__ import annotations

import pytest

from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
    latest_version_rows,
    upsert_by_key,
    write_parquet,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import (
    stream_merge_to_parquet,
)

SCHEMA = "id long, part string, v long, payload string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(spark, path):
    return {
        (r.id,): (r.part, r.v, r.payload)
        for r in spark.read.parquet(path).collect()
    }


# ---------------------------------------------------------------- unit


def test_latest_version_rows_newer_wins_stale_loses(spark):
    existing = _df(spark, [(1, "a", 5, "cur"), (2, "a", 5, "cur")])
    updates = _df(spark, [(1, "a", 9, "new"), (2, "a", 3, "stale")])
    got = {
        r.id: (r.v, r.payload)
        for r in latest_version_rows(existing, updates, ["id"], "v").collect()
    }
    assert got == {1: (9, "new"), 2: (5, "cur")}


def test_latest_version_rows_equal_version_existing_wins(spark):
    """Replay idempotency: a re-delivered row at the version already
    merged must keep the EXISTING row, even when payloads differ."""
    existing = _df(spark, [(1, "a", 5, "cur")])
    updates = _df(spark, [(1, "a", 5, "replayed-divergent")])
    got = latest_version_rows(existing, updates, ["id"], "v").collect()
    assert [(r.v, r.payload) for r in got] == [(5, "cur")]


def test_latest_version_rows_update_tie_full_row_deterministic(spark):
    """Duplicate versions INSIDE one delivery (no existing row): the
    winner is the full-remaining-row max, independent of input order."""
    a = _df(spark, [(1, "a", 5, "xx"), (1, "a", 5, "zz")])
    b = _df(spark, [(1, "a", 5, "zz"), (1, "a", 5, "xx")])
    for upd in (a, b):
        got = latest_version_rows(None, upd, ["id"], "v").collect()
        assert [(r.v, r.payload) for r in got] == [(5, "zz")]


def test_latest_version_rows_null_version_sorts_last(spark):
    existing = _df(spark, [(1, "a", None, "versionless")])
    updates = _df(spark, [(1, "a", 1, "versioned")])
    got = latest_version_rows(existing, updates, ["id"], "v").collect()
    assert [(r.v, r.payload) for r in got] == [(1, "versioned")]


# -------------------------------------------------------- upsert_by_key


def test_versioned_upsert_stale_batch_is_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    write_parquet(
        _df(spark, [(1, "a", 5, "cur"), (2, "b", 5, "cur")]),
        path,
        partition_by=["part"],
    )
    before = _state(spark, path)
    upsert_by_key(
        spark,
        path,
        _df(spark, [(1, "a", 3, "stale"), (2, "b", 4, "stale")]),
        keys=["id"],
        partition_by=["part"],
        version_col="v",
    )
    assert _state(spark, path) == before


def test_versioned_upsert_mixed_batch(spark, tmp_path):
    """One batch carrying a newer row, a stale row, and a new key:
    only the newer row replaces; the new key inserts."""
    path = str(tmp_path / "t")
    write_parquet(
        _df(spark, [(1, "a", 5, "cur"), (2, "b", 5, "cur")]),
        path,
        partition_by=["part"],
    )
    upsert_by_key(
        spark,
        path,
        _df(
            spark,
            [(1, "a", 9, "new"), (2, "b", 1, "stale"), (3, "c", 1, "ins")],
        ),
        keys=["id"],
        partition_by=["part"],
        version_col="v",
    )
    assert _state(spark, path) == {
        (1,): ("a", 9, "new"),
        (2,): ("b", 5, "cur"),
        (3,): ("c", 1, "ins"),
    }


def test_versioned_upsert_stale_update_cannot_move_partition(spark, tmp_path):
    """A stale update pointing at a DIFFERENT partition must neither
    move the key nor leave a duplicate row in the stale partition."""
    path = str(tmp_path / "t")
    write_parquet(
        _df(spark, [(1, "a", 5, "cur")]), path, partition_by=["part"]
    )
    upsert_by_key(
        spark,
        path,
        _df(spark, [(1, "b", 3, "stale-moved")]),
        keys=["id"],
        partition_by=["part"],
        version_col="v",
    )
    assert _state(spark, path) == {(1,): ("a", 5, "cur")}


def test_versioned_upsert_newer_update_moves_partition(spark, tmp_path):
    """A NEWER update that relocates the key must delete the old
    partition's row (no resurrecting stale directories)."""
    path = str(tmp_path / "t")
    write_parquet(
        _df(spark, [(1, "a", 5, "cur"), (2, "a", 5, "cur")]),
        path,
        partition_by=["part"],
    )
    upsert_by_key(
        spark,
        path,
        _df(spark, [(1, "b", 9, "moved")]),
        keys=["id"],
        partition_by=["part"],
        version_col="v",
    )
    assert _state(spark, path) == {
        (1,): ("b", 9, "moved"),
        (2,): ("a", 5, "cur"),
    }


def test_unversioned_upsert_is_last_delivered_wins(spark, tmp_path):
    """CONTRACT PIN for the default path: without ``version_col`` a
    stale replayed batch REGRESSES the key — that is the documented
    last-delivered-wins semantics, and the reason the versioned path
    exists.  If this test ever fails, the default's contract changed
    and the docstrings must move with it."""
    path = str(tmp_path / "t")
    write_parquet(
        _df(spark, [(1, "a", 5, "cur")]), path, partition_by=["part"]
    )
    upsert_by_key(
        spark,
        path,
        _df(spark, [(1, "a", 3, "stale")]),
        keys=["id"],
        partition_by=["part"],
    )
    assert _state(spark, path) == {(1,): ("a", 3, "stale")}


# ------------------------------------------------- streaming end-to-end

#: Full CDC log: key → versions 1..3 with partition moves.  Waves
#: below deliver it out of order with overlaps.
LOG = [
    (1, "a", 1, "k1v1"),
    (1, "b", 2, "k1v2"),
    (1, "c", 3, "k1v3"),
    (2, "a", 1, "k2v1"),
    (2, "a", 2, "k2v2"),
    (3, "b", 1, "k3v1"),
]

FINAL = {
    (1,): ("c", 3, "k1v3"),
    (2,): ("a", 2, "k2v2"),
    (3,): ("b", 1, "k3v1"),
}

#: Two adversarial schedules over LOG (indexes into LOG): newest-first
#: with replays, and interleaved with duplicate deliveries.
SCHEDULES = [
    [[2, 4], [1, 3, 2], [0, 5, 4, 2]],
    [[1, 5], [0, 2, 5], [4, 3, 1]],
]


#: The stream merge sink keys on ``user_id``, partitions by
#: ``event_type`` and versions by ``ts``: the LOG under those names.
STREAM_SCHEMA = "user_id long, event_type string, ts long, payload string"


def _stream_state(spark, path):
    return {
        (r.user_id,): (r.event_type, r.ts, r.payload)
        for r in spark.read.parquet(path).collect()
    }


def _run_waves(spark, tmp_path, waves):
    import glob
    import os
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for k, wave in enumerate(waves):
        f = str(tmp_path / f"stage{k}")
        spark.createDataFrame([LOG[i] for i in wave], STREAM_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f)
        dst = os.path.join(src, f"wave{k}.parquet")
        shutil.move(glob.glob(os.path.join(f, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "table")
    stream_merge_to_parquet(stream, table, str(tmp_path / "ckpt"))
    return table


@pytest.mark.parametrize("schedule", SCHEDULES)
def test_versioned_stream_merge_converges_any_schedule(
    spark, tmp_path, schedule
):
    table = _run_waves(spark, tmp_path, schedule)
    assert _stream_state(spark, table) == FINAL


def test_versioned_stream_merge_full_replay_is_noop(spark, tmp_path):
    """At-least-once worst case: the WHOLE stream replays from batch 0
    (checkpoint lost, table kept).  Every row ties-or-loses against the
    merged state, so the table must be unchanged."""
    import shutil

    table = _run_waves(spark, tmp_path, SCHEDULES[0])
    before = _stream_state(spark, table)
    shutil.rmtree(str(tmp_path / "ckpt"))
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    stream_merge_to_parquet(stream, table, str(tmp_path / "ckpt"))
    assert _stream_state(spark, table) == before == FINAL


def test_versioned_bootstrap_collapses_first_batch(spark, tmp_path):
    """The bootstrap batch itself can hold several versions of one key
    (a snapshot-load batch); the table must be key-unique from birth."""
    table = _run_waves(spark, tmp_path, [[0, 1, 2, 3, 4, 5]])
    assert _stream_state(spark, table) == FINAL
