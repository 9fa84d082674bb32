"""Concurrent-writer partition pins (r8 probe class,
scripts/probe_concurrent_writers.py at c84e9fc).

Contract (writers.py): concurrent publishers into one parquet table
use DYNAMIC partition overwrite over DISJOINT partitions — dynamic
mode stages per-job (``.spark-staging-<uuid>``), so writers never
share scratch space.  Appending to a shared root from separate
applications is unsafe (both stage under ``<root>/_temporary/0``; the
first commit deletes the other's files — hazard demonstrated by the
probe, which spawns real second JVMs and is too heavy for the unit
suite).  Merge sinks are read-modify-write and single-writer by
contract.
"""

from __future__ import annotations

import threading

from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
    overwrite_partitions_dynamic,
)


def _seed(spark, root):
    spark.range(10).selectExpr(
        "id", "CAST(id % 4 AS INT) AS p", "'seed' AS src"
    ).write.partitionBy("p").parquet(root)


def _writer_df(spark, tag, off):
    return spark.range(100).selectExpr(
        "id", f"CAST(id % 2 * 2 + {off} AS INT) AS p", f"'{tag}' AS src"
    )


def _state(spark, root):
    return {
        (r.p, r.src): r["count"]
        for r in spark.read.parquet(root).groupBy("p", "src").count().collect()
    }


def test_concurrent_disjoint_dynamic_overwrites_both_land(spark, tmp_path):
    """The SUPPORTED concurrent-publisher pattern: two writers, one
    partition subtree each, dynamic overwrite — both complete and
    neither touches the other's partitions."""
    root = str(tmp_path / "t")
    _seed(spark, root)
    errs = []

    def run(tag, off):
        try:
            overwrite_partitions_dynamic(
                _writer_df(spark, tag, off), root, ["p"]
            )
        except Exception as exc:  # noqa: BLE001
            errs.append((tag, repr(exc)))

    ts = [
        threading.Thread(target=run, args=("w1", 0)),
        threading.Thread(target=run, args=("w2", 1)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert _state(spark, root) == {
        (0, "w1"): 50,
        (1, "w2"): 50,
        (2, "w1"): 50,
        (3, "w2"): 50,
    }


def test_concurrent_overlapping_overwrites_never_mix_a_partition(
    spark, tmp_path
):
    """Overlap is a coordination bug, not a supported pattern — but
    the failure mode must stay SANE: each contested partition ends as
    ONE writer's complete 50-row set, never a mix of both writers'
    files, and untouched partitions keep their seed rows."""
    root = str(tmp_path / "t")
    _seed(spark, root)
    errs = []

    def run(tag):
        try:
            overwrite_partitions_dynamic(
                _writer_df(spark, tag, 0), root, ["p"]
            )
        except Exception as exc:  # noqa: BLE001
            errs.append((tag, repr(exc)))

    ts = [threading.Thread(target=run, args=(t,)) for t in ("w1", "w2")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    state = _state(spark, root)
    for contested in (0, 2):
        owners = {
            src: n for (p, src), n in state.items() if p == contested
        }
        assert len(owners) == 1 and set(owners) <= {"w1", "w2"}, state
        assert next(iter(owners.values())) == 50, state
    assert state[(1, "seed")] == 3 and state[(3, "seed")] == 2


def test_serialized_overlap_is_last_writer_wins(spark, tmp_path):
    """The deterministic baseline the concurrent case degrades to:
    serialized overlapping overwrites leave exactly the LAST writer's
    rows in the contested partitions."""
    root = str(tmp_path / "t")
    _seed(spark, root)
    overwrite_partitions_dynamic(_writer_df(spark, "w1", 0), root, ["p"])
    overwrite_partitions_dynamic(_writer_df(spark, "w2", 0), root, ["p"])
    assert _state(spark, root) == {
        (0, "w2"): 50,
        (1, "seed"): 3,
        (2, "w2"): 50,
        (3, "seed"): 2,
    }
