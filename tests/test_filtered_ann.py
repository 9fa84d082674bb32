"""Filtered ANN over the persisted IVF index (r12): predicate rides
the pruned index (both filters reach the scan), the deterministic
probe-widening ladder guarantees k, and the final rung degrades to
exact filtered search.
"""

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec


def _emb(spark, n=64, dim=8, label=lambda i: i % 8):
    rows = [
        (
            i,
            [float((i * 7 + d * 3) % 11 - 5) + 0.25 * d for d in range(dim)],
            label(i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _selective(i):
    """Labels under which FILTERED_ANN_PRED (``label = 3 AND vec_id %
    7 = 0``) passes exactly the multiples of 7: ~10 of 64 vectors."""
    return 3 if i % 7 == 0 else i % 8


def _matches(emb):
    return {r.vec_id for r in emb.where(lvec.FILTERED_ANN_PRED).collect()}


def _cells_emb(spark):
    """Four seed cells (ids 0-3 are the unit axes; every other vector
    leans on axis ``id % 4``) holding 8 predicate matches, two per
    cell: no 2-cell probe prefix holds TOP_K (5) of them, so every
    query escalates to the probe-everything rung."""
    rows = []
    for i in range(64):
        v = [0.0] * 4
        v[i % 4] = 1.0
        if i >= 4:
            v[(i + 1) % 4] = 0.001 * i
        rows.append((i, v, 3 if i % 7 == 0 and 0 < i < 63 else 0))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _queries(emb, n=3):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_probe_ladder_doubles_and_caps():
    assert lvec.probe_ladder(2, 8) == [2, 4, 8]
    assert lvec.probe_ladder(1, 8) == [1, 2, 4, 8]
    assert lvec.probe_ladder(3, 8) == [3, 6, 8]
    assert lvec.probe_ladder(8, 8) == [8]
    assert lvec.probe_ladder(9, 8) == [8]  # capped at n_cells
    with pytest.raises(ValueError):
        lvec.probe_ladder(0, 8)


def test_filtered_search_returns_k_under_selective_predicate(
    spark, tmp_path_factory
):
    """A predicate that starves the first probe rung must widen, not
    return < k rows: with only ~10/64 vectors passing, 2-of-8 probed
    cells rarely hold 5 matches — every query still gets exactly k."""
    emb = _emb(spark, label=_selective)
    matches = _matches(emb)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=8, meta_cols=["label"])
    out = lvec.search_ivf_index_filtered(spark, path, _queries(emb))
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        assert r.vec_id in matches  # predicate respected
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == lvec.TOP_K for v in per_q.values())


def test_filtered_search_final_rung_equals_filtered_bruteforce(
    spark, tmp_path_factory
):
    """When every query is forced to the probe-everything rung
    (k > any prefix of cells can hold), the result must equal exact
    bruteforce over the filtered corpus — the ladder's correctness
    anchor."""
    emb = _cells_emb(spark)
    q = _queries(emb)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=4, meta_cols=["label"])
    got = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rk)
        for r in lvec.search_ivf_index_filtered(spark, path, q).collect()
    )
    expect = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rk)
        for r in lvec.top_k_bruteforce(
            emb.where(lvec.FILTERED_ANN_PRED), q, k=lvec.TOP_K
        ).collect()
    )
    assert got == expect


def test_filtered_search_fewer_than_k_returns_all_matches(
    spark, tmp_path_factory
):
    """k larger than the whole filtered corpus: the final rung returns
    every match ranked, never errors or pads."""
    emb = _emb(spark, label=lambda i: 3 if i in (7, 14, 21) else 0)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=8, meta_cols=["label"])
    out = lvec.search_ivf_index_filtered(spark, path, _queries(emb, n=1)).collect()
    n_matches = len(_matches(emb))
    assert n_matches < lvec.TOP_K
    assert len(out) == n_matches
    assert [r.rk for r in sorted(out, key=lambda r: r.rk)] == list(
        range(1, n_matches + 1)
    )


def test_filtered_search_plan_pushes_both_predicates(
    spark, tmp_path_factory
):
    """The 100-TB contract: the cells scan carries cell_id as
    PartitionFilters (directory pruning) AND the metadata predicate
    as a pushed data filter."""
    emb = _emb(spark)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=8, meta_cols=["label"])
    out = lvec.search_ivf_index_filtered(spark, path, _queries(emb))
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan")
        if "cells" in seg.split("\n")[0]
    ]
    assert scans, plan
    for head in scans:
        part = head.split("PartitionFilters")[1].split("]")[0]
        assert "cell_id" in part, head
        pushed = head.split("PushedFilters")[1].split("]")[0]
        assert "label" in pushed, head


def test_index_meta_delta_merge_preserves_metadata(
    spark, tmp_path_factory
):
    """add_to_ivf_index on a meta-carrying index: merged cells keep
    the metadata column, and a delta missing it raises loudly."""
    emb = _emb(spark, n=48)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=4, meta_cols=["label"])
    delta = spark.createDataFrame(
        [(1000, [1.0] * 8, 3), (1001, [0.5] * 8, 5)],
        "vec_id long, embedding array<float>, label int",
    )
    lvec.add_to_ivf_index(delta, path)
    stored = spark.read.parquet(f"{path}/cells")
    assert "label" in stored.columns
    got = {
        r.vec_id: r.label
        for r in stored.where(F.col("vec_id") >= 1000).collect()
    }
    assert got == {1000: 3, 1001: 5}
    assert stored.count() == 48 + 2
    bad = delta.drop("label")
    with pytest.raises(ValueError, match="metadata columns"):
        lvec.add_to_ivf_index(bad, path)


def test_filtered_search_empty_query_batch(spark, tmp_path_factory):
    emb = _emb(spark, n=16)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=4, meta_cols=["label"])
    out = lvec.search_ivf_index_filtered(
        spark, path, _queries(emb).where(F.lit(False))
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "cos_sim", "rk"]


def test_index_delta_merge_is_upsert_and_replay_idempotent(
    spark, tmp_path_factory
):
    """add_to_ivf_index (r12): re-adding an id REPLACES its stored row
    (the index contract), and re-applying the SAME delta — a streaming
    foreachBatch replay after a crash-before-checkpoint-commit — leaves
    the cells bit-identical (idempotent)."""
    emb = _emb(spark, n=32)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=4)
    delta = spark.createDataFrame(
        [(3, [9.0] * 8), (1000, [1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    lvec.add_to_ivf_index(delta, path)
    stored = spark.read.parquet(f"{path}/cells")
    assert stored.count() == 32 + 1  # id 3 replaced, not duplicated
    (row3,) = stored.where(F.col("vec_id") == 3).collect()
    assert row3["__v"] == [9.0] * 8  # updated vector won
    snapshot = sorted(
        (r.vec_id, tuple(r["__v"]), r.cell_id) for r in stored.collect()
    )
    lvec.add_to_ivf_index(delta, path)  # replay the same batch
    replayed = sorted(
        (r.vec_id, tuple(r["__v"]), r.cell_id)
        for r in spark.read.parquet(f"{path}/cells").collect()
    )
    assert replayed == snapshot


def test_stream_ann_index_ingest_matches_full_build(spark, tmp_path_factory):
    """The streaming ingest (build wave 1, merge waves 2-3) must leave
    an index whose search equals the one-shot full-corpus build when
    wave 1 carries the smallest ids (frozen seeds equal)."""
    import glob
    import os
    import shutil

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_ann_index_ingest,
    )

    emb = _emb(spark, n=60)
    base = str(tmp_path_factory.mktemp("annstream"))
    src = os.path.join(base, "src")
    os.makedirs(src)
    for k, (lo, hi) in enumerate(((0, 20), (20, 40), (40, 60))):
        stage = os.path.join(base, f"stage{k}")
        emb.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(src, f"wave{k}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = os.path.join(base, "index")
    stream_ann_index_ingest(
        stream, idx, os.path.join(base, "ckpt"), n_cells=4
    )
    full = str(tmp_path_factory.mktemp("annstream") / "full")
    lvec.build_ivf_index(emb, full, n_cells=4)
    q = _queries(emb)
    got = sorted(
        tuple(r)
        for r in lvec.search_ivf_index(spark, idx, q, k=5, n_probe=2).collect()
    )
    expect = sorted(
        tuple(r)
        for r in lvec.search_ivf_index(spark, full, q, k=5, n_probe=2).collect()
    )
    assert got == expect


def test_index_update_moves_vector_across_cells(spark, tmp_path_factory):
    """An updated vector that re-assigns to a DIFFERENT cell must leave
    its old cell (the stale-copy hazard): exactly one stored row per
    updated id afterwards, in the new cell."""
    emb = _emb(spark, n=32)
    path = str(tmp_path_factory.mktemp("fivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=4)
    (old,) = (
        spark.read.parquet(f"{path}/cells")
        .where(F.col("vec_id") == 7)
        .collect()
    )
    # replace id 7 with a vector far from its old position (negated
    # and scaled) so the nearest cell almost surely changes; assert on
    # row count regardless, and on cell movement when it does change
    new_vec = [-(x) * 3.0 for x in old["__v"]]
    delta = spark.createDataFrame(
        [(7, new_vec)], "vec_id long, embedding array<float>"
    )
    lvec.add_to_ivf_index(delta, path)
    rows = (
        spark.read.parquet(f"{path}/cells")
        .where(F.col("vec_id") == 7)
        .collect()
    )
    assert len(rows) == 1, rows  # never two copies across cells
    assert rows[0]["__v"] == new_vec


def test_index_update_emptying_a_cell_deletes_its_partition(
    spark, tmp_path_factory
):
    """r13 (the r12 advice's stale-partition edge): when a cell's SOLE
    member is updated and re-assigns to another cell, the merged write
    contains no rows for the old cell, so dynamic overwrite alone
    would leave the stale directory on disk and a search would surface
    BOTH copies — add_to_ivf_index must delete the emptied partition
    explicitly."""
    # the seeded quantizer takes ids 0 and 1 as the two centroids
    emb = spark.createDataFrame(
        [
            (0, [0.9, 0.1, 0.0, 0.0]),  # sole member of cell 0
            (1, [0.0, 1.0, 0.1, 0.0]),
            (2, [0.1, 0.9, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path_factory.mktemp("emptycell") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=2)
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.where("cell_id = 0").count() == 1
    # update id 0 to point at cell 1's centroid -> cell 0 empties
    delta = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    lvec.add_to_ivf_index(delta, path)
    after = spark.read.parquet(f"{path}/cells")
    rows = after.where(F.col("vec_id") == 0).collect()
    assert len(rows) == 1, rows  # exactly one surviving copy
    assert rows[0]["cell_id"] == 1
    # the emptied cell directory is GONE, not a stale leftover
    assert after.where("cell_id = 0").count() == 0
    import os

    assert not os.path.exists(f"{path}/cells/cell_id=0")
    assert len(rows[0]["__v"]) == 4


def test_compact_ivf_index_reduces_files_and_preserves_search(
    spark, tmp_path_factory
):
    """r13 lifecycle: delta merges accrete files per cell directory;
    compact_ivf_index must collapse each cell to one file WITHOUT
    changing any search answer."""
    import os

    emb = _emb(spark, n=96)
    path = str(tmp_path_factory.mktemp("ivfcompact") / "idx")
    lvec.build_ivf_index(emb.filter(F.col("vec_id") < 32), path, n_cells=4)
    lvec.add_to_ivf_index(
        emb.filter((F.col("vec_id") >= 32) & (F.col("vec_id") < 64)), path
    )
    lvec.add_to_ivf_index(emb.filter(F.col("vec_id") >= 64), path)
    q = _queries(emb)
    before = sorted(
        tuple(r)
        for r in lvec.search_ivf_index(spark, path, q, k=5, n_probe=2).collect()
    )

    def _files_per_cell():
        return {
            d: sum(
                1
                for f in os.listdir(os.path.join(f"{path}/cells", d))
                if f.endswith(".parquet")
            )
            for d in os.listdir(f"{path}/cells")
            if d.startswith("cell_id=")
        }

    assert any(n > 1 for n in _files_per_cell().values())  # accreted
    lvec.compact_ivf_index(spark, path)
    assert all(n == 1 for n in _files_per_cell().values())
    after = sorted(
        tuple(r)
        for r in lvec.search_ivf_index(spark, path, q, k=5, n_probe=2).collect()
    )
    assert after == before


def test_cosine_dedup_delta_admits_only_novel_vectors(spark):
    """R-S semantics: a delta vector near-parallel to a corpus vector
    drops; novel directions stay; within-delta duplicates BOTH stay
    (batch-internal dedup is the ingest entry's job, mirroring
    doc_dedup_delta)."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    delta = spark.createDataFrame(
        [
            (10, [0.999, 0.01, 0.0, 0.0]),  # ~dup of corpus 0 -> drop
            (11, [0.0, 0.0, 1.0, 0.0]),  # novel -> keep
            (12, [0.0, 0.0, 0.9999, 0.0]),  # dup of 11 (in-delta) -> keep
        ],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(
        r.vec_id
        for r in lvec.cosine_dedup_delta(corpus, delta).collect()
    )
    assert kept == [11, 12]


def test_cosine_dedup_delta_never_joins_corpus_with_itself(spark):
    """Plan shape: the only band-key join is delta keys x corpus keys
    — no corpus-corpus candidate pair reaches the verify (checked via
    the admitted result on a corpus full of internal near-dups, which
    must not affect admission)."""
    # corpus has two near-identical members; a novel delta vector must
    # still be admitted (corpus-internal duplication is irrelevant)
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9999, 0.001])],
        "vec_id long, embedding array<float>",
    )
    delta = spark.createDataFrame(
        [(10, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    kept = lvec.cosine_dedup_delta(corpus, delta).collect()
    assert [r.vec_id for r in kept] == [10]


def test_cosine_dedup_delta_empty_corpus_admits_everything(spark):
    """Bootstrap edge: an EMPTY accumulated corpus has no geometry to
    match against — every well-formed delta vector is admitted, and
    ragged/NULL delta vectors drop at the validity gate (no geometry
    → cannot be admitted into a vector corpus)."""
    corpus = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    delta = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [1.0])],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(
        r.vec_id
        for r in lvec.cosine_dedup_delta(corpus, delta).collect()
    )
    # NULL drops (no geometry); the ragged 1-dim vector is still
    # finite/nonzero so the dim-agnostic operator keeps it — the
    # entry-level dim gate lives in _load_embeddings by design
    assert kept == [1, 2, 4]


def test_cosine_dedup_delta_empty_delta(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    delta = corpus.where(F.lit(False))
    out = lvec.cosine_dedup_delta(corpus, delta)
    assert out.count() == 0


def test_probe_ladder_properties():
    """Ladder invariants for every dial combination: starts at
    min(n_probe, n_cells), strictly increasing, doubling until the
    cap, always ends exactly at n_cells."""
    for n_cells in (1, 2, 3, 7, 8, 16, 100):
        for n_probe in (1, 2, 3, 5, 8, 200):
            ladder = lvec.probe_ladder(n_probe, n_cells)
            assert ladder[0] == min(n_probe, n_cells)
            assert ladder[-1] == n_cells
            assert all(b > a for a, b in zip(ladder, ladder[1:]))
            assert all(
                b == min(2 * a, n_cells) or b == n_cells
                for a, b in zip(ladder, ladder[1:])
            )


# ---------------------------------------------------------------------------
# r14: filtered ANN over the persisted IVF-PQ index
# ---------------------------------------------------------------------------


def test_pq_filtered_search_returns_k_under_selective_predicate(
    spark, tmp_path_factory
):
    """Starvation escalation on the COMPRESSED index (the r14 carried
    queue item's required pin): with only ~10/64 code rows passing the
    predicate, 2-of-8 probed cells rarely hold 5 matches — the ladder
    must widen from the FILTERED cell populations and every query
    still gets exactly k rows, all satisfying the predicate."""
    emb = _emb(spark, label=_selective)
    matches = _matches(emb)
    path = str(tmp_path_factory.mktemp("fpq") / "idx")
    lvec.build_ivfpq_index(
        emb, path, n_cells=8, meta_cols=["label"]
    )
    out = lvec.search_ivfpq_index_filtered(spark, path, _queries(emb))
    per_q = {}
    for r in out.collect():
        per_q.setdefault(r.query_id, []).append(r)
        assert r.vec_id in matches  # predicate respected
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == lvec.TOP_K for v in per_q.values())


def test_pq_filtered_search_exhaustive_dials_equal_filtered_bruteforce(
    spark, tmp_path_factory
):
    """At verification dials (probe everything, rerank ≥ the filtered
    corpus) the engine-specific codebooks cancel out of the final
    ordering: every filtered code row becomes a candidate and the
    exact re-rank IS bruteforce over the filtered corpus — the
    correctness anchor.  The fixture starves every 2-cell prefix, so
    the ladder reaches the probe-everything rung, and its 8 matches
    fit the 4·k re-rank budget."""
    emb = _cells_emb(spark)
    q = _queries(emb)
    path = str(tmp_path_factory.mktemp("fpq") / "idx")
    lvec.build_ivfpq_index(
        emb, path, n_cells=4, meta_cols=["label"]
    )
    got = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rk)
        for r in lvec.search_ivfpq_index_filtered(spark, path, q).collect()
    )
    expect = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rk)
        for r in lvec.top_k_bruteforce(
            emb.where(lvec.FILTERED_ANN_PRED), q, k=lvec.TOP_K
        ).collect()
    )
    assert got == expect


def test_pq_filtered_search_fewer_than_k_returns_all_matches(
    spark, tmp_path_factory
):
    """k larger than the whole filtered corpus: the final rung returns
    every match ranked, never errors or pads."""
    emb = _emb(spark, label=lambda i: 3 if i in (7, 14, 21) else 0)
    path = str(tmp_path_factory.mktemp("fpq") / "idx")
    lvec.build_ivfpq_index(
        emb, path, n_cells=8, meta_cols=["label"]
    )
    out = lvec.search_ivfpq_index_filtered(spark, path, _queries(emb, n=1)).collect()
    n_matches = len(_matches(emb))
    assert n_matches < lvec.TOP_K
    assert len(out) == n_matches
    assert [r.rk for r in sorted(out, key=lambda r: r.rk)] == list(
        range(1, n_matches + 1)
    )


def test_pq_filtered_search_plan_pushes_both_predicates(
    spark, tmp_path_factory
):
    """The 100-TB contract on the compressed index: the CODE scan
    carries cell_id as PartitionFilters (directory pruning) AND the
    metadata predicate as a pushed data filter; the raw-vector
    relation is only reached through the by-id re-rank join."""
    emb = _emb(spark)
    path = str(tmp_path_factory.mktemp("fpq") / "idx")
    lvec.build_ivfpq_index(
        emb, path, n_cells=8, meta_cols=["label"]
    )
    out = lvec.search_ivfpq_index_filtered(spark, path, _queries(emb))
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan")
        if "codes" in seg.split("\n")[0]
    ]
    assert scans, plan
    for head in scans:
        part = head.split("PartitionFilters")[1].split("]")[0]
        assert "cell_id" in part, head
        pushed = head.split("PushedFilters")[1].split("]")[0]
        assert "label" in pushed, head


def test_pq_index_meta_delta_merge_preserves_metadata(
    spark, tmp_path_factory
):
    """A meta-carrying PQ index: the delta merge must require the
    metadata columns (fail loud when absent) and carry them into the
    merged code partitions so the filtered searcher sees delta rows."""
    # FILTERED_ANN_PRED passes ids 14, 49 and 56: two of them delta rows
    label = lambda i: 3 if i in (14, 49, 56) else 0  # noqa: E731
    emb = _emb(spark, n=48, label=label)
    path = str(tmp_path_factory.mktemp("fpq") / "idx")
    lvec.build_ivfpq_index(
        emb, path, n_cells=4, meta_cols=["label"]
    )
    delta = _emb(spark, n=60, label=label).where(F.col("vec_id") >= 48)
    with pytest.raises(ValueError, match="metadata columns"):
        lvec.add_to_ivfpq_index(delta.drop("label"), path)
    lvec.add_to_ivfpq_index(delta, path)
    codes = spark.read.parquet(f"{path}/codes")
    assert "label" in codes.columns
    assert codes.where(F.col("vec_id") >= 48).count() == 12
    out = lvec.search_ivfpq_index_filtered(spark, path, _queries(emb))
    got_ids = {r.vec_id for r in out.where("query_id = 0").collect()}
    assert got_ids == _matches(_emb(spark, n=60, label=label)) == {14, 49, 56}
