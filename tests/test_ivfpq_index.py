"""Persisted IVF-PQ index (r12): losslessness of the persistence
round-trip vs the in-memory IVF-PQ operator, directory pruning on the
code files, the bytes-read advantage over the raw-vector index, and
the recall floor.
"""

import os

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec


def _emb(spark, n=96, dim=8):
    rows = [
        (i, [float((i * 13 + d * 5) % 17 - 8) + 0.125 * d for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _queries(emb, n=3):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def test_persisted_search_equals_in_memory_operator(
    spark, tmp_path_factory
):
    """Same seeds and dials → the persisted-index search must return
    exactly what top_k_ann_ivfpq returns: the round-trip through
    codes/vectors/centroids/codebooks parquet is lossless."""
    emb = _emb(spark)
    q = _queries(emb)
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    lvec.build_ivfpq_index(emb, path, n_cells=lvec.IVF_CELLS)
    got = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, path, q, k=lvec.TOP_K, n_probe=2
        ).collect()
    )
    expect = sorted(tuple(r) for r in lvec.top_k_ann_ivfpq(emb, q, n_probe=2).collect())
    assert got == expect
    assert len(got) == 3 * lvec.TOP_K


def test_persisted_search_prunes_code_partitions(spark, tmp_path_factory):
    """The codes scan must carry cell_id as PartitionFilters —
    directory pruning is the whole point of persisting per-cell."""
    emb = _emb(spark)
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    lvec.build_ivfpq_index(emb, path, n_cells=4)
    out = lvec.search_ivfpq_index(
        spark, path, _queries(emb), k=3, n_probe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    heads = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan")
        if "codes" in seg.split("\n")[0]
    ]
    assert heads, plan
    for head in heads:
        part = head.split("PartitionFilters")[1].split("]")[0]
        assert "cell_id" in part, head


def test_code_files_much_smaller_than_raw_index(spark, tmp_path_factory):
    """The bytes-read contract: per-cell CODE files must be much
    smaller than the raw-vector cell files of build_ivf_index on the
    same corpus (4 int codes + norm vs 64 doubles).  Corpus sized so
    DATA dominates the fixed per-file parquet footer overhead (the
    writers produce one file per shuffle partition per cell; at 256
    rows the ~1 KB footers drown the 30× code advantage) and with
    INCOMPRESSIBLE random vectors (the lattice corpus of the other
    tests dictionary-encodes to almost nothing, hiding the ratio)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(64)])
        for i in range(4096)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    raw = str(tmp_path_factory.mktemp("ivfpq") / "raw")
    pq = str(tmp_path_factory.mktemp("ivfpq") / "pq")
    lvec.build_ivf_index(emb, raw, n_cells=4)
    lvec.build_ivfpq_index(emb, pq, n_cells=4)
    raw_bytes = _dir_bytes(f"{raw}/cells")
    code_bytes = _dir_bytes(f"{pq}/codes")
    assert code_bytes < 0.5 * raw_bytes, (code_bytes, raw_bytes)


def test_persisted_search_recall_floor(spark, tmp_path_factory):
    """recall@4 vs exact bruteforce at production-ish dials — the
    same floor class as the in-memory operator's pin."""
    emb = _emb(spark)
    q = _queries(emb)
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    lvec.build_ivfpq_index(emb, path, n_cells=4)
    got = {
        (r.query_id, r.vec_id)
        for r in lvec.search_ivfpq_index(
            spark, path, q, k=4, n_probe=2
        ).collect()
    }
    truth = {
        (r.query_id, r.vec_id)
        for r in lvec.top_k_bruteforce(emb, q, k=4).collect()
    }
    assert len(got & truth) / len(truth) >= 0.5


def test_exhaustive_dials_reproduce_bruteforce(spark, tmp_path_factory):
    """Probe-everything + a re-rank budget (4·k = 48) covering the
    whole corpus collapses the persisted search to exact bruteforce —
    the verification-dial anchor, now for the persisted form."""
    emb = _emb(spark, n=48)
    q = _queries(emb, n=2)
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    lvec.build_ivfpq_index(emb, path, n_cells=4)
    got = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, path, q, k=12, n_probe=4
        ).collect()
    )
    expect = sorted(
        tuple(r) for r in lvec.top_k_bruteforce(emb, q, k=12).collect()
    )
    assert got == expect


def test_pq_recall_profile_monotone_with_exhaustive_endpoint(spark):
    """The compressed-index recall curve: nondecreasing in rerank (a
    larger candidate set can only add truth rows to the exact re-rank)
    and recall exactly 1.0 at the exhaustive verification endpoint."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.plans.llm_queries import (
        vec_ann_recall_profile_pq,
    )

    rows = vec_ann_recall_profile_pq(spark, "/root/testdata/sf0.001").collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r.method, []).append((r.dial, r.recall))
    curve = sorted(by_method["ivfpq_rerank"])
    assert [d for d, _ in curve] == [1, 2, 4]
    assert all(
        curve[i][1] <= curve[i + 1][1] for i in range(len(curve) - 1)
    ), curve
    (endpoint,) = by_method["ivfpq_exhaustive"]
    assert endpoint[1] == 1.0
    assert all(0.0 <= rec <= 1.0 for _, rec in curve)


def test_ivfpq_delta_merge_equals_frozen_rebuild(spark, tmp_path_factory):
    """add_to_ivfpq_index must leave the index bit-identical to a
    fresh build over corpus ∪ delta with the SAME frozen centroids and
    codebooks: search results equal, untouched cells never rewritten."""
    import os

    base = _emb(spark, n=64)
    delta = spark.createDataFrame(
        [
            (500 + i, [float((i * 11 + d * 7) % 13 - 6) for d in range(8)])
            for i in range(12)
        ],
        "vec_id long, embedding array<float>",
    )
    inc = str(tmp_path_factory.mktemp("ivfpq") / "inc")
    lvec.build_ivfpq_index(base, inc, n_cells=4)
    cents = spark.read.parquet(f"{inc}/centroids")
    books = spark.read.parquet(f"{inc}/codebooks")
    mtimes_before = {
        d: os.path.getmtime(os.path.join(f"{inc}/codes", d))
        for d in os.listdir(f"{inc}/codes")
        if d.startswith("cell_id=")
    }
    lvec.add_to_ivfpq_index(delta, inc)
    touched = {
        r.cell_id
        for r in spark.read.parquet(f"{inc}/codes")
        .where(F.col("vec_id") >= 500)
        .select("cell_id")
        .distinct()
        .collect()
    }
    for d, t0 in mtimes_before.items():
        cell = int(d.split("=")[1])
        t1 = os.path.getmtime(os.path.join(f"{inc}/codes", d))
        if cell not in touched:
            assert t1 == t0, f"untouched {d} was rewritten"

    full = str(tmp_path_factory.mktemp("ivfpq") / "full")
    lvec.build_ivfpq_index(
        base.unionByName(delta),
        full,
        n_cells=4,
        codebooks=books,
    )
    q = _queries(base)
    got = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, inc, q, k=5, n_probe=2
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, full, q, k=5, n_probe=2
        ).collect()
    )
    assert got == expect
    # the re-rank fetch relation carries the delta vectors
    assert (
        spark.read.parquet(f"{inc}/vectors")
        .where(F.col("vec_id") >= 500)
        .count()
        == 12
    )


def test_ivfpq_index_forget_removes_ids_from_all_relations(
    spark, tmp_path_factory
):
    """r13: delete_from_ivf_index on the PQ layout must drop the ids
    from codes AND the by-id re-rank vectors, remove emptied cell
    dirs, leave everything else byte-equal, and be idempotent."""
    emb = _emb(spark, n=64)
    clones = emb.selectExpr("vec_id + 1000000 AS vec_id", "embedding")
    path = str(tmp_path_factory.mktemp("ivfpq_forget") / "idx")
    lvec.build_ivfpq_index(
        emb.unionByName(clones), path, n_cells=4
    )
    clean = str(tmp_path_factory.mktemp("ivfpq_forget") / "clean")
    cents = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/codebooks")
    lvec.delete_from_ivf_index(clones.select("vec_id"), path)
    lvec.delete_from_ivf_index(clones.select("vec_id"), path)  # idempotent
    for rel in ("codes", "vectors"):
        remaining = (
            spark.read.parquet(f"{path}/{rel}")
            .where(F.col("vec_id") >= 1000000)
            .count()
        )
        assert remaining == 0, rel
        assert spark.read.parquet(f"{path}/{rel}").count() == 64, rel
    # post-forget search equals a clean build with the SAME frozen
    # quantizer (clone ids are larger, so seeds/codebooks match)
    lvec.build_ivfpq_index(
        emb, clean, n_cells=4, codebooks=books
    )
    q = _queries(emb)
    got = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, path, q, k=5, n_probe=2
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, clean, q, k=5, n_probe=2
        ).collect()
    )
    assert got == expect


def test_compact_ivfpq_codes_preserves_search(spark, tmp_path_factory):
    """compact_ivf_index on the PQ layout: delta merges accrete code
    files per cell; compaction collapses them and the ADC search is
    unchanged (the vectors re-rank relation is left alone)."""
    import os

    base = _emb(spark, n=64)
    path = str(tmp_path_factory.mktemp("ivfpq_compact") / "idx")
    lvec.build_ivfpq_index(base, path, n_cells=4)
    for i in range(3):
        delta = spark.createDataFrame(
            [
                (500 + 20 * i + j, [float((j * 11 + d * 7) % 13 - 6) for d in range(8)])
                for j in range(20)
            ],
            "vec_id long, embedding array<float>",
        )
        lvec.add_to_ivfpq_index(delta, path)
    q = _queries(base)
    before = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, path, q, k=5, n_probe=2
        ).collect()
    )
    n_files = lambda: sum(  # noqa: E731
        1
        for d in os.listdir(f"{path}/codes")
        if d.startswith("cell_id=")
        for f in os.listdir(os.path.join(f"{path}/codes", d))
        if f.endswith(".parquet")
    )
    accreted = n_files()
    lvec.compact_ivf_index(spark, path)
    assert n_files() < accreted
    after = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, path, q, k=5, n_probe=2
        ).collect()
    )
    assert after == before


def test_ivfpq_delta_merge_replay_is_idempotent(spark, tmp_path_factory):
    """r13 (the r12 advice's replay hazard): a foreachBatch crash-
    replay re-applies the SAME delta — the codes merge must not
    duplicate code rows and the vectors append must add zero rows, so
    a post-replay search is byte-identical to the single-apply one."""
    base = _emb(spark, n=64)
    delta = spark.createDataFrame(
        [
            (500 + i, [float((i * 11 + d * 7) % 13 - 6) for d in range(8)])
            for i in range(12)
        ],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path_factory.mktemp("ivfpq_replay") / "idx")
    lvec.build_ivfpq_index(base, path, n_cells=4)
    lvec.add_to_ivfpq_index(delta, path)
    q = _queries(base)

    def _snap():
        codes = spark.read.parquet(f"{path}/codes")
        vecs = spark.read.parquet(f"{path}/vectors")
        got = sorted(
            tuple(r)
            for r in lvec.search_ivfpq_index(
                spark, path, q, k=5, n_probe=2
            ).collect()
        )
        return codes.count(), vecs.count(), got

    once = _snap()
    lvec.add_to_ivfpq_index(delta, path)  # full-batch replay
    lvec.add_to_ivfpq_index(delta, path)  # and again
    assert _snap() == once
    # per-id uniqueness in BOTH relations, not just stable counts
    for rel in ("codes", "vectors"):
        dupes = (
            spark.read.parquet(f"{path}/{rel}")
            .groupBy("vec_id")
            .count()
            .where("count > 1")
            .count()
        )
        assert dupes == 0, rel


def test_ivfpq_delta_merge_rejects_true_updates(spark, tmp_path_factory):
    """r14 (ADVICE): a delta carrying a CHANGED vector for an id
    already in the index would half-apply — new code, stale re-rank
    vector — so the merge must reject it loudly.  A byte-identical
    replay of an existing id must still sail through (idempotence)."""
    import pytest

    emb = _emb(spark, n=48)
    path = str(tmp_path_factory.mktemp("ivfpq_guard") / "idx")
    lvec.build_ivfpq_index(emb, path, n_cells=4)
    # identical replay of stored rows: allowed, no-op
    lvec.add_to_ivfpq_index(emb.filter(F.col("vec_id") < 8), path)
    assert spark.read.parquet(f"{path}/vectors").count() == 48
    # changed vector for an existing id: rejected
    mutated = emb.filter(F.col("vec_id") < 4).select(
        "vec_id",
        F.expr("transform(embedding, x -> x + 1.0f)").alias("embedding"),
    )
    with pytest.raises(ValueError, match="CHANGED vectors"):
        lvec.add_to_ivfpq_index(mutated, path)
    # the failed merge must not have mutated either relation
    assert spark.read.parquet(f"{path}/vectors").count() == 48
    assert spark.read.parquet(f"{path}/codes").count() == 48


def test_full_erasure_leaves_readable_index(spark, tmp_path_factory):
    """r14 (ADVICE): deleting EVERY id must leave the partitioned
    relations readable (schema'd tombstone, zero rows) rather than a
    _SUCCESS-only directory that fails schema inference; search
    returns empty and a later upsert resurrects the index."""
    emb = _emb(spark, n=32)
    q = _queries(emb)
    for build, search, rels in (
        (lvec.build_ivf_index, lvec.search_ivf_index, ("cells",)),
        (lvec.build_ivfpq_index, lvec.search_ivfpq_index, ("codes", "vectors")),
    ):
        path = str(tmp_path_factory.mktemp("full_erase") / "idx")
        build(emb, path, n_cells=4)
        lvec.delete_from_ivf_index(emb.select("vec_id"), path)
        for rel in rels:
            assert spark.read.parquet(f"{path}/{rel}").count() == 0, rel
        assert search(spark, path, q, k=3, n_probe=4).count() == 0
        # the emptied index still accepts a delta and serves it
        if build is lvec.build_ivf_index:
            lvec.add_to_ivf_index(emb.filter(F.col("vec_id") < 8), path)
        else:
            lvec.add_to_ivfpq_index(emb.filter(F.col("vec_id") < 8), path)
        assert search(spark, path, q, k=3, n_probe=4).count() > 0


def _wave_source(spark, emb, base, splits=((0, 32), (32, 64), (64, 96))):
    """Stage id-range waves as individually-timestamped files so
    maxFilesPerTrigger=1 replays them as ordered micro-batches."""
    import glob
    import os
    import shutil

    src = os.path.join(base, "src")
    os.makedirs(src)
    for k, (lo, hi) in enumerate(splits):
        stage = os.path.join(base, f"stage{k}")
        emb.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(src, f"wave{k}.parquet")
        shutil.move(
            glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst
        )
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
    return src


def test_stream_pq_index_ingest_matches_frozen_rebuild(
    spark, tmp_path_factory
):
    """r14: the streaming ingest (build wave 1 — freezing seeds AND
    codebooks — then merge waves 2-3) must leave an index whose search
    equals a one-shot full-corpus build under the SAME frozen
    quantizers: the serving contract that per-batch merges never
    drift from a rebuild."""
    import os

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_pq_index_ingest,
    )

    emb = _emb(spark, n=96)
    base = str(tmp_path_factory.mktemp("pqstream"))
    src = _wave_source(spark, emb, base)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = os.path.join(base, "index")
    stream_pq_index_ingest(
        stream, idx, os.path.join(base, "ckpt"), n_cells=4
    )
    assert spark.read.parquet(f"{idx}/codes").count() == 96
    assert spark.read.parquet(f"{idx}/vectors").count() == 96
    full = str(tmp_path_factory.mktemp("pqstream") / "full")
    lvec.build_ivfpq_index(
        emb,
        full,
        codebooks=spark.read.parquet(f"{idx}/codebooks"),
    )
    q = _queries(emb)
    got = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, idx, q, k=5, n_probe=2
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in lvec.search_ivfpq_index(
            spark, full, q, k=5, n_probe=2
        ).collect()
    )
    assert got == expect


def test_stream_pq_index_ingest_two_wave_replay(spark, tmp_path_factory):
    """r14 (the verdict's required pin): a crash-replay of the last
    micro-batch — exactly what foreachBatch delivers after a failure
    before checkpoint commit — must leave the index byte-identical:
    codes rows unchanged, zero duplicate re-rank vectors."""
    import os

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_pq_index_ingest,
    )

    emb = _emb(spark, n=64)
    base = str(tmp_path_factory.mktemp("pqreplay"))
    src = _wave_source(spark, emb, base, splits=((0, 32), (32, 64)))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = os.path.join(base, "index")
    stream_pq_index_ingest(
        stream, idx, os.path.join(base, "ckpt"), n_cells=4
    )
    before_codes = sorted(
        map(tuple, spark.read.parquet(f"{idx}/codes").collect())
    )
    before_vecs = sorted(
        map(tuple, spark.read.parquet(f"{idx}/vectors").collect())
    )
    # replay wave 2 as a recovered foreachBatch would
    lvec.add_to_ivfpq_index(emb.where(F.col("vec_id") >= 32), idx)
    assert (
        sorted(map(tuple, spark.read.parquet(f"{idx}/codes").collect()))
        == before_codes
    )
    assert (
        sorted(map(tuple, spark.read.parquet(f"{idx}/vectors").collect()))
        == before_vecs
    )


def test_stream_pq_ingest_recovers_interrupted_build(
    spark, tmp_path_factory
):
    """r15 (ADVICE): build_ivfpq_index writes codebooks LAST, so a
    crash mid-build can leave centroids present without codebooks.
    The ingest must probe the last-written artifact: a replay over a
    torn build has to route through the overwrite-mode REBUILD (and
    converge), not the merge path (which would die reading codebooks
    forever)."""
    import os
    import shutil

    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.ingest import (
        stream_pq_index_ingest,
    )

    emb = _emb(spark, n=64)
    base = str(tmp_path_factory.mktemp("pqtorn"))
    src = _wave_source(spark, emb, base, splits=((0, 32), (32, 64)))
    idx = os.path.join(base, "index")
    # simulate the torn first-batch build: everything written except
    # the final codebooks artifact
    lvec.build_ivfpq_index(
        emb.where(F.col("vec_id") < 32), idx, n_cells=4
    )
    shutil.rmtree(f"{idx}/codebooks")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_pq_index_ingest(
        stream, idx, os.path.join(base, "ckpt"), n_cells=4
    )
    assert spark.read.parquet(f"{idx}/codes").count() == 64
    assert spark.read.parquet(f"{idx}/vectors").count() == 64
    assert (
        lvec.search_ivfpq_index(
            spark, idx, _queries(emb), k=3, n_probe=4
        ).count()
        > 0
    )


def test_full_erasure_rerunnable_through_crash_window(
    spark, tmp_path_factory, monkeypatch
):
    """r15 (ADVICE): the full-erase tombstone must land BEFORE any
    partition directory is deleted, so a crash inside
    delete_partition_dirs leaves the relation readable and the
    erasure re-runnable; and a root already torn to _SUCCESS-only by
    the pre-fix ordering is treated as empty, not a read failure."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources import writers as W

    emb = _emb(spark, n=32)
    path = str(tmp_path_factory.mktemp("erase_crash") / "idx")
    lvec.build_ivfpq_index(emb, path, n_cells=4)

    real_delete = W.delete_partition_dirs

    def _boom(*a, **k):
        raise RuntimeError("simulated crash during partition delete")

    monkeypatch.setattr(W, "delete_partition_dirs", _boom)
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        lvec.delete_from_ivf_index(emb.select("vec_id"), path)
    # tombstone already written: the codes root must still be
    # schema-readable mid-crash
    spark.read.parquet(f"{path}/codes").count()
    monkeypatch.setattr(W, "delete_partition_dirs", real_delete)
    # re-run converges to the fully erased, still-readable state
    lvec.delete_from_ivf_index(emb.select("vec_id"), path)
    assert spark.read.parquet(f"{path}/codes").count() == 0
    assert spark.read.parquet(f"{path}/vectors").count() == 0

    # pre-fix torn layout: a _SUCCESS-only root must read as empty
    import glob
    import os

    torn = str(tmp_path_factory.mktemp("erase_crash") / "torn")
    lvec.build_ivf_index(emb, torn, n_cells=4)
    for d in glob.glob(f"{torn}/cells/cell_id=*"):
        import shutil

        shutil.rmtree(d)
    assert not glob.glob(f"{torn}/cells/cell_id=*")
    lvec.delete_from_ivf_index(emb.select("vec_id"), torn)  # no raise


def test_multirerank_equals_independent_calls(spark):
    """r15 opt pin: top_k_ann_ivfpq_multirerank's shared encode + ADC
    + widest-cut exact-re-rank pass must reproduce every independent
    top_k_ann_ivfpq call row-for-row — the __crk prefix cut is the
    same candidate set the per-dial window produced."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import (
        release_staging,
    )

    emb = _emb(spark)
    q = _queries(emb)
    try:
        multi = dict(lvec.top_k_ann_ivfpq_multirerank(emb, q))
        for r in lvec.PQ_RECALL_RERANK:
            solo = sorted(
                tuple(x)
                for x in lvec.top_k_ann_ivfpq(
                    emb, q, n_probe=lvec.IVF_PROBE, rerank=r
                ).collect()
            )
            got = sorted(tuple(x) for x in multi[r].collect())
            assert got == solo, f"rerank={r} diverged"
    finally:
        release_staging()


def test_multidial_ivf_equals_independent_calls(spark, tmp_path_factory):
    """r15 opt pin: top_k_ann_ivf_multidial's shared assignment +
    scoring pass must reproduce every independent search row-for-row
    — the probe-rank prefix cut is the same candidate set each dial's
    own probe frame produced.  The independent reference per dial is
    the persisted-index search (same seed quantizer, same scoring as
    top_k_ann_ivf, pinned equal to it in tests/test_plans.py)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import (
        release_staging,
    )

    emb = _emb(spark)
    q = _queries(emb)
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    lvec.build_ivf_index(emb, path, n_cells=lvec.IVF_CELLS)
    try:
        multi = dict(lvec.top_k_ann_ivf_multidial(emb, q))
        assert list(multi) == list(lvec.RECALL_PROBES)
        for p in lvec.RECALL_PROBES:
            solo = sorted(
                tuple(x)
                for x in lvec.search_ivf_index(
                    spark, path, q, k=lvec.TOP_K, n_probe=p
                ).collect()
            )
            got = sorted(tuple(x) for x in multi[p].collect())
            assert got == solo, f"n_probe={p} diverged"
    finally:
        release_staging()
