"""Streaming corpus ingestion with incremental dedup (SURVEY.md
§2.10 × §2.12 — the reference's batch ingest, scripts/etl.py:21-27,
recast as the continuous shape a training-data pipeline actually
runs).

A live corpus grows by micro-batches, and each batch must be admitted
only if it is neither an exact nor a near duplicate of what the
corpus ALREADY holds — the N+δ dedup (:func:`llm.dedup.
dedup_against_corpus`) driven by Structured Streaming instead of a
manual batch loop.  ``foreachBatch`` supplies the full batch API per
micro-batch (read the accumulated table, anti-join, append) while the
checkpoint tracks source offsets.

Exactly-once: each micro-batch writes its admitted rows by
OVERWRITING its own ``<batch_col>=<batch_id>`` partition directory —
a replayed batch (crash between write and checkpoint commit)
re-derives the same admitted set against the same prior corpus and
overwrites the same directory, so replays are idempotent by
construction (no read-modify-write of shared state, unlike a bare
``mode("append")`` which would double the batch).

Scale shape per batch at 100 TB: the accumulated corpus is scanned
narrow (one ``sha2`` projection for the exact check; staged shingle →
band keys for the near check) and candidate pairs are bounded by the
BATCH's band-bucket overlap — cost grows with the batch size and its
collision fan-in, never with corpus pairs (see
``llm/dedup.py:199-296``).  The sequential admission order is exactly
what a SQL oracle can replay batch-by-batch, which is how the driver
hash-checks this end to end (:func:`dedup_ingest_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
    band_key_array,
    dedup_against_corpus,
    match_banded_candidates,
    near_dup_banded_sql,
    verified_pairs_from,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging, spread, stage
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.text import (
    minhash_signature_from,
    shingled,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.joins import _is_missing_table


def _delta_features(
    delta: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """Per-doc dedup features for an ingest batch — the rows the
    band-key INDEX stores: ``(id, __sha, __sz, __sh, __bands)``.
    Built from the SAME shared builders as ``llm.dedup._banded_keys``
    (``band_key_array`` for the bucket keys, the staged distinct
    shingles + salted-md5 MinHash), except empty-shingle docs are KEPT
    with an empty
    ``__bands`` array (they still need their exact-hash row in the
    index; an empty array explodes to no band keys, preserving the
    no-quadratic-NULL-collision guarantee)."""
    src = spread(delta.select(F.col(id_col), F.col(text_col)))
    base = (
        shingled(src, [id_col], text_col, shingle_n, out="__sh0")
        .select(
            F.col(id_col),
            F.array_distinct(F.col("__sh0")).alias("__sh"),
        )
        .withColumn("__sz", F.size("__sh"))
        .withColumn(
            "__sig",
            F.when(
                F.col("__sz") > 0,
                minhash_signature_from(F.col("__sh"), num_hashes),
            ),
        )
    )
    sha = delta.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("__sha")
    )
    feats = base.join(sha, on=id_col).select(
        id_col,
        "__sha",
        "__sz",
        "__sh",
        F.when(
            F.col("__sz") > 0,
            band_key_array(F.col("__sig"), num_hashes, bands),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__bands"),
    )
    return stage(feats)


def stream_dedup_ingest_to_parquet(
    stream: DataFrame,
    table: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_col: str = "ingest_batch",
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
    index_path: str | None = None,
) -> None:
    """Drain ``stream`` (``availableNow``) into the parquet corpus at
    ``table``, admitting per micro-batch only rows that are

    1. not exact duplicates WITHIN the batch (keep the min-``id_col``
       copy — one window rank on the content hash), and
    2. neither exact (``sha2``) nor near (banded MinHash-LSH,
       Jaccard ≥ ``threshold``) duplicates of the already-admitted
       corpus (:func:`llm.dedup.dedup_against_corpus`).

    The first batch bootstraps the table.  The bootstrap probe goes
    through the READER (``AnalysisException`` + missing-path check,
    :func:`streaming.joins._is_missing_table`) so unreadable-but-
    present tables fail loudly instead of silently restarting the
    corpus from one batch.

    ``index_path`` switches on the INDEXED mode — the shape that
    holds at 100 TB.  Without it, every batch re-shingles and
    re-MinHashes the ENTIRE accumulated corpus (per-batch cost grows
    linearly with corpus size — fine for a backfill, wrong for a
    long-lived stream).  With it, each batch appends its admitted
    docs' dedup features (content hash, shingle set + size, band
    keys) to a persisted side index and checks the delta against the
    INDEX: the exact check scans one narrow hash column, band keys
    join band keys, and only the collision candidates' shingle arrays
    are fetched for verification — per-batch cost ∝ delta size +
    bucket collision fan-in, independent of how big the corpus has
    grown.  The admitted output is IDENTICAL in both modes (same
    features, same predicates), so the SQL twin covers both.  Index
    partitions mirror the corpus partitions (per-batch overwrite →
    same idempotent-replay guarantee).

    Mode selection (measured, scripts/measure_ingest_crossover.py at c84e9fc,
    8-token docs / 2k-doc deltas): per-delta-batch cost crosses over
    at a corpus of O(2×10⁴) docs — even at 20k (≈3.9 s both), indexed
    wins 5.5→4.7 s at 100k and 14.5→4.7 s (3.1×) at 10⁶ after the r6
    staged-admitted-ids fix removed a double execution of the verify
    plan, with the recompute curve growing linearly in corpus size and
    the indexed one near-flat.  Rule of thumb: backfills and small corpora →
    recompute (no index build/write overhead); any long-lived stream
    past ~10⁵ docs → ``index_path=``."""
    from pyspark.errors import AnalysisException

    def _read_before(spark, path: str, batch_id: int) -> DataFrame | None:
        """Accumulated state visible to ``batch_id``: partitions of
        strictly EARLIER batches only.  A crash between the partition
        write and the checkpoint commit leaves this batch's own
        partition on disk; a replay that read it would reject every
        doc as an exact SELF-duplicate and overwrite the partition
        with an empty result — silent loss.  Filtering
        ``batch_col < batch_id`` makes the replay see exactly the
        state the original attempt saw (partition pruning keeps the
        filter a directory-level skip, no data read)."""
        try:
            df = spark.read.parquet(path)
        except AnalysisException as exc:
            if not _is_missing_table(exc):
                raise
            return None
        if batch_col in df.columns:
            df = df.filter(F.col(batch_col) < F.lit(batch_id)).drop(
                batch_col
            )
        return df

    def _read_corpus_with_batches(spark, batch_id: int) -> DataFrame | None:
        """Accumulated corpus visible to ``batch_id`` WITH its batch
        column — the index backfill needs each doc's original batch so
        the backfilled features land in replay-consistent partitions."""
        try:
            df = spark.read.parquet(table)
        except AnalysisException as exc:
            if not _is_missing_table(exc):
                raise
            return None
        if batch_col in df.columns:
            df = df.filter(F.col(batch_col) < F.lit(batch_id))
        return df

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(
            id_col
        )
        batch = (
            batch_df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
        feats = None
        if index_path is not None:
            feats = _delta_features(
                batch, id_col, text_col, num_hashes, bands, shingle_n
            )
            index = _read_before(spark, index_path, batch_id)
            if index is None:
                # Corpus-exists-but-index-missing is NOT bootstrap: a
                # stream migrated from recompute mode has accumulated
                # batches the new index knows nothing about — admitting
                # against an empty index would wave duplicates through
                # and leave the pre-switch corpus invisible to dedup
                # FOREVER.  Backfill the index from the corpus once
                # (features recomputed per original batch partition, so
                # replay visibility rules keep working), then proceed.
                prior = _read_corpus_with_batches(spark, batch_id)
                if prior is not None and prior.head(1):
                    bf = _delta_features(
                        prior, id_col, text_col, num_hashes, bands, shingle_n
                    ).join(prior.select(id_col, batch_col), on=id_col)
                    bf.write.mode("overwrite").partitionBy(
                        batch_col
                    ).parquet(index_path)
                    index = _read_before(spark, index_path, batch_id)
            if index is None:
                admitted_ids = feats.select(id_col)
            else:
                exact_ok = feats.join(
                    index.select("__sha").distinct(),
                    on="__sha",
                    how="left_anti",
                ).select(id_col)
                # candidate match through the SAME predicate builder as
                # recompute mode (llm.dedup.match_banded_candidates) —
                # the two modes must admit identical sets by
                # construction, not by parallel maintenance
                def _split(f):
                    base = f.select(
                        F.col(id_col).alias("__id"), "__sh", "__sz"
                    )
                    keys = f.select(
                        F.col(id_col).alias("__id"),
                        F.explode("__bands").alias("band_key"),
                    )
                    return base, keys

                dbase, dkeys = _split(feats)
                cbase, ckeys = _split(index)
                matched = match_banded_candidates(
                    dbase, dkeys, cbase, ckeys, id_col, threshold
                )
                admitted_ids = exact_ok.join(
                    matched, on=id_col, how="left_anti"
                )
            # one materialization: admitted feeds BOTH the corpus write
            # and the index-features write; unstaged, the whole
            # index-scan + band-join + verify plan would execute twice
            # per micro-batch
            admitted_ids = stage(admitted_ids)
            admitted = batch.join(admitted_ids, on=id_col, how="left_semi")
        else:
            corpus = _read_before(spark, table, batch_id)
            admitted = (
                batch
                if corpus is None
                else dedup_against_corpus(
                    corpus,
                    batch,
                    id_col=id_col,
                    text_col=text_col,
                    num_hashes=num_hashes,
                    bands=bands,
                    shingle_n=shingle_n,
                    threshold=threshold,
                )
            )
        # idempotent on replay: the batch owns its partition directory
        admitted.write.mode("overwrite").parquet(
            f"{table}/{batch_col}={batch_id}"
        )
        if index_path is not None:
            feats.join(
                admitted.select(id_col), on=id_col, how="left_semi"
            ).write.mode("overwrite").parquet(
                f"{index_path}/{batch_col}={batch_id}"
            )
        # Per-BATCH staging release, and not only for memory hygiene:
        # the banded staging persists plan fragments built over the
        # corpus PATH, and Spark's cache manager substitutes a cached
        # fragment into any later semantically-equal subplan — so the
        # NEXT micro-batch's corpus read would silently resolve to
        # THIS batch's file listing and anti-join against a stale
        # corpus (observed: wave-2 docs admitted despite wave-1 near
        # dups).  Releasing after the write materializes drops the
        # fragments so every batch lists the table fresh.
        release_staging(blocking=True)

    q = (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_ingest_sql(
    splits: tuple[int, ...] = (200, 350),
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    out_cols: str = "lang, n_chars",
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of a :func:`stream_dedup_ingest_to_parquet` run
    whose micro-batches are the ``id_col`` ranges cut at ``splits``
    (batch 0 = ids below ``splits[0]``, …, last batch = the rest):
    chained CTEs replay the sequential admission — batch k's exact and
    near predicates reference ONLY the union of earlier batches'
    ADMITTED rows, exactly like the streaming sink reading back its
    accumulated table.  The near predicate restricts the full-table
    banded pair set (:func:`llm.dedup.near_dup_banded_sql`) to cross
    pairs whose ``id_a`` is admitted — sound because batches ascend in
    id and pairs carry ``id_a < id_b``."""
    pairs = near_dup_banded_sql(
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        table=table,
        id_col=id_col,
        text_col=text_col,
    )
    bounds = [None, *splits, None]
    n_batches = len(splits) + 1
    ctes = [f"__pairs AS ({pairs})"]
    admitted_union = None
    for k in range(n_batches):
        lo, hi = bounds[k], bounds[k + 1]
        preds = []
        if lo is not None:
            preds.append(f"{id_col} >= {lo}")
        if hi is not None:
            preds.append(f"{id_col} < {hi}")
        where = " AND ".join(preds) or "TRUE"
        # intra-batch exact dedup: keep the min-id copy
        ctes.append(
            f"__d{k} AS (SELECT {id_col}, {text_col}, {out_cols} "
            f"FROM {table} WHERE {where} "
            f"QUALIFY row_number() OVER (PARTITION BY sha256({text_col}) "
            f"ORDER BY {id_col}) = 1)"
        )
        if k == 0:
            ctes.append(f"__a0 AS (SELECT * FROM __d0)")
            admitted_union = "SELECT * FROM __a0"
        else:
            ctes.append(
                f"__c{k} AS ({admitted_union}), "
                f"__a{k} AS (SELECT d.* FROM __d{k} d "
                f"WHERE NOT EXISTS (SELECT 1 FROM __c{k} c "
                f"  WHERE sha256(c.{text_col}) = sha256(d.{text_col})) "
                f"AND NOT EXISTS (SELECT 1 FROM __pairs p "
                f"  JOIN __c{k} c ON p.id_a = c.{id_col} "
                f"  WHERE p.id_b = d.{id_col}))"
            )
            admitted_union += f" UNION ALL SELECT * FROM __a{k}"
    tagged = " UNION ALL ".join(
        f"SELECT {k} AS b, {id_col}, {out_cols} FROM __a{k}"
        for k in range(n_batches)
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT CAST(b AS INTEGER) AS ingest_batch, {id_col}, {out_cols} "
        + f"FROM ({tagged}) ORDER BY {id_col}"
    )


def stream_doc_dedup_to_parquet(
    stream: DataFrame,
    table: str,
    checkpoint: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_col: str = "ingest_batch",
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> None:
    """Drain ``stream`` (``availableNow``) into the parquet corpus at
    ``table`` under GLOBAL KEEP-FIRST doc-level near-dup semantics: a
    document is admitted iff no earlier-SEEN document — same batch
    with a smaller ``id_col``, or any earlier batch, admitted or NOT —
    is an exact (``sha2``) or near (banded MinHash-LSH, Jaccard ≥
    ``threshold``) duplicate of it.

    This is deliberately a DIFFERENT contract from
    :func:`stream_dedup_ingest_to_parquet`, which admits against the
    already-ADMITTED corpus only (a doc duplicating a rejected doc is
    re-admitted there).  Keep-first-over-all-seen is the standard
    corpus-dedup rule (the streaming form of dropping every ``id_b``
    of the :func:`llm.dedup.near_dup_pairs_banded` pair relation), and
    it is ASSOCIATIVE over ordered batches — each doc's fate depends
    only on the RAW docs before it, never on admission outcomes — so
    the accumulated result always equals the one-shot batch dedup of
    everything seen, and the oracle collapses to one pair-based
    predicate (:func:`doc_dedup_ingest_sql`) instead of chained CTEs.

    ``index_path`` is REQUIRED state, not an optimization: rejected
    docs still veto later duplicates, and they exist nowhere in the
    corpus — so every batch appends ALL its docs' dedup features
    (content hash, shingle set + size, band keys) to the side index,
    and each batch checks itself against the accumulated index.
    Exactly-once replay: both the corpus partition and the index
    partition are overwritten per ``<batch_col>=<batch_id>`` directory
    and reads filter ``batch_col < batch_id``, the same construction
    as the admission ingest.

    Scale shape per batch at 100 TB: the index is scanned narrow (hash
    column for the exact check, band keys for the near check); cross
    candidates are bounded by the BATCH's band-bucket overlap with the
    index, intra candidates by the batch's own buckets — cost ∝ delta
    size + collision fan-in, never corpus pairs.  NULL-text docs are
    exempt from the exact check everywhere (NULL never equi-joins
    cross-batch, so the intra pass must not group them either) and
    have no shingles, so they are always admitted.
    """
    from pyspark.errors import AnalysisException

    def _read_index_before(spark, batch_id: int) -> DataFrame | None:
        try:
            df = spark.read.parquet(index_path)
        except AnalysisException as exc:
            if not _is_missing_table(exc):
                raise
            return None
        return df.filter(F.col(batch_col) < F.lit(batch_id)).drop(batch_col)

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        feats = _delta_features(
            batch_df, id_col, text_col, num_hashes, bands, shingle_n
        )
        # intra-batch exact keep-first (NULL sha exempt: rn pinned 1)
        w = Window.partitionBy("__sha").orderBy(id_col)
        exact_first = (
            feats.withColumn(
                "__rn",
                F.when(
                    F.col("__sha").isNotNull(), F.row_number().over(w)
                ).otherwise(F.lit(1)),
            )
            .filter(F.col("__rn") == 1)
            .select(id_col)
        )
        # intra-batch near keep-first: drop id_b of every verified pair
        base = feats.select(
            F.col(id_col).alias("__id"), "__sh", "__sz"
        )
        keys = feats.select(
            F.col(id_col).alias("__id"),
            F.explode("__bands").alias("band_key"),
        )
        intra_dropped = verified_pairs_from(base, keys, threshold).select(
            F.col("id_b").alias(id_col)
        )
        admitted_ids = exact_first.join(
            intra_dropped, on=id_col, how="left_anti"
        )
        index = _read_index_before(spark, batch_id)
        if index is not None:
            # cross exact: any earlier SEEN doc with the same hash
            admitted_ids = (
                admitted_ids.join(feats.select(id_col, "__sha"), on=id_col)
                .join(
                    index.select("__sha").distinct(),
                    on="__sha",
                    how="left_anti",
                )
                .select(id_col)
            )
            # cross near: shared predicate builder with the batch path
            ckeys = index.select(
                F.col(id_col).alias("__id"),
                F.explode("__bands").alias("band_key"),
            )
            cbase = index.select(F.col(id_col).alias("__id"), "__sh", "__sz")
            matched = match_banded_candidates(
                base, keys, cbase, ckeys, id_col, threshold
            )
            admitted_ids = admitted_ids.join(
                matched, on=id_col, how="left_anti"
            )
        admitted = batch_df.join(admitted_ids, on=id_col, how="left_semi")
        # idempotent on replay: each batch owns its partition directory
        admitted.write.mode("overwrite").parquet(
            f"{table}/{batch_col}={batch_id}"
        )
        # ALL seen features persist — rejected docs veto later dups too
        feats.write.mode("overwrite").parquet(
            f"{index_path}/{batch_col}={batch_id}"
        )
        # same cached-fragment hazard as the admission ingest: release
        # so the next batch lists the index fresh
        release_staging(blocking=True)

    q = (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def doc_dedup_ingest_sql(
    splits: tuple[int, ...] = (200, 350),
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    out_cols: str = "lang, n_chars",
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of a :func:`stream_doc_dedup_to_parquet` run whose
    micro-batches are the ``id_col`` ranges cut at ``splits``.  Because
    keep-first-over-all-seen is associative and the batches ascend in
    id, the whole sequential run collapses to two global predicates in
    plain id order — no chained CTEs: a doc survives iff it is the
    first occurrence of its (non-NULL) content hash AND it is not the
    ``id_b`` of any verified banded pair
    (:func:`llm.dedup.near_dup_banded_sql`, the same band/hash
    constants as the engine)."""
    pairs = near_dup_banded_sql(
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        table=table,
        id_col=id_col,
        text_col=text_col,
    )
    n = len(splits)
    batch = (
        "CASE "
        + " ".join(
            f"WHEN {id_col} < {s} THEN {i}" for i, s in enumerate(splits)
        )
        + f" ELSE {n} END"
    )
    return f"""
WITH __pairs AS ({pairs}),
__ranked AS (
  SELECT {id_col}, {batch} AS ingest_batch, {out_cols},
         CASE WHEN {text_col} IS NULL THEN 1
              ELSE row_number() OVER (PARTITION BY sha256({text_col})
                                      ORDER BY {id_col})
         END AS __rn
  FROM {table}
)
SELECT CAST(ingest_batch AS INTEGER) AS ingest_batch, {id_col}, {out_cols}
FROM __ranked r
WHERE __rn = 1
  AND NOT EXISTS (SELECT 1 FROM __pairs p WHERE p.id_b = r.{id_col})
ORDER BY {id_col}
"""


def stream_line_dedup_to_parquet(
    stream: DataFrame,
    table: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_col: str = "ingest_batch",
    min_len: int = 20,
) -> None:
    """Drain ``stream`` (``availableNow``) into the parquet corpus at
    ``table``, applying corpus-wide LINE dedup incrementally
    (:func:`llm.dedup.line_dedup` with its cross-corpus
    ``drop_hashes`` arm): per micro-batch every ≥ ``min_len``-char
    line that already survives anywhere in the ACCUMULATED corpus
    drops from the new documents, duplicates within the batch keep
    their first ``(id, pos)`` copy, and the cleaned documents append
    as the batch's own partition (same overwrite-own-partition
    idempotent-replay construction as
    :func:`stream_dedup_ingest_to_parquet`).

    Sequential-equals-global: keep-first admission over ordered
    batches is associative — the accumulated result after every batch
    equals one global keep-first ordered by ``(batch, id, pos)``.
    That is what makes this hash-checkable end to end: the SQL twin
    (:func:`line_dedup_ingest_sql`) is a single window over the
    batch-tagged corpus, no chained CTEs needed.

    Scale shape per batch: prior state is scanned NARROW — one
    ``sha2`` projection over the exploded kept lines (never the full
    corpus width); the batch's eligible lines anti-join that hash set
    (Zipf-hot keys → AQE skew split).  Per-batch cost grows with the
    accumulated KEPT-line count — for a long-lived stream the same
    persisted side-index upgrade the doc-level ingest implements
    (``index_path``; crossover measured in
    scripts/measure_ingest_crossover.py at c84e9fc) applies verbatim: append
    each batch's new line hashes to an index table and anti-join
    that instead.  Documented upgrade path, same admitted output."""
    from pyspark.errors import AnalysisException

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import line_dedup

    def _prior_hashes(spark, batch_id: int) -> DataFrame | None:
        """sha2 set of every kept line of strictly earlier batches
        (reading only earlier partitions keeps crash-replay honest,
        same argument as the doc-level ingest's ``_read_before``)."""
        try:
            df = spark.read.parquet(table)
        except AnalysisException as exc:
            if not _is_missing_table(exc):
                raise
            return None
        df = df.filter(F.col(batch_col) < F.lit(batch_id))
        lines = df.select(
            F.explode(F.split(F.col("clean_text"), F.lit("\n"))).alias(
                "__line"
            )
        )
        return (
            lines.filter(F.length("__line") >= min_len)
            .select(F.sha2(F.col("__line"), 256).alias("__h"))
            .distinct()
        )

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = _prior_hashes(spark, batch_id)
        cleaned = line_dedup(
            batch_df,
            text_col=text_col,
            id_col=id_col,
            min_len=min_len,
            drop_hashes=prior,
        ).withColumn(batch_col, F.lit(batch_id))
        (
            cleaned.write.mode("overwrite")
            .partitionBy(batch_col)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(table)
        )
        release_staging(blocking=True)

    q = (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def line_dedup_ingest_sql(
    splits: tuple[int, ...] = (200, 350),
    table: str = "documents",
    min_len: int = 20,
) -> str:
    """DuckDB twin of a :func:`stream_line_dedup_to_parquet` run whose
    micro-batches are the ``doc_id`` ranges cut at ``splits``: because
    keep-first admission is associative over ordered batches, the
    whole sequential run collapses to ONE window — an eligible line
    instance survives iff it is the row_number()=1 occurrence of its
    text in ``(batch, doc_id, pos)`` order."""
    n = len(splits)
    batch = "CASE " + " ".join(
        f"WHEN doc_id < {s} THEN {i}" for i, s in enumerate(splits)
    ) + f" ELSE {n} END"
    return f"""
WITH base AS (
  SELECT doc_id, {batch} AS ingest_batch,
         str_split(text, chr(10)) AS ls
  FROM {table}
), lines AS (
  SELECT doc_id, ingest_batch, i.i - 1 AS pos, ls[i.i] AS line
  FROM base, LATERAL unnest(generate_series(1, len(ls))) AS i(i)
), marked AS (
  SELECT doc_id, ingest_batch, pos, line,
         CASE WHEN length(line) >= {min_len} THEN row_number() OVER (
           PARTITION BY sha256(line)
           ORDER BY ingest_batch, doc_id, pos
         ) ELSE 1 END AS rn
  FROM lines
), kept AS (
  SELECT doc_id, ingest_batch, pos, line FROM marked WHERE rn = 1
), reassembled AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.ingest_batch, b.doc_id,
       md5(COALESCE(r.clean_text, '')) AS clean_md5,
       COALESCE(r.n_kept, 0) AS n_kept,
       CAST(COALESCE(len(b.ls), 0) - COALESCE(r.n_kept, 0) AS BIGINT)
         AS n_removed
FROM base b LEFT JOIN reassembled r ON b.doc_id = r.doc_id
"""


def stream_ann_index_ingest(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list | None:
    """Drain an embedding ``stream`` (``availableNow``) into the
    PERSISTED IVF index at ``index_path`` (r12): the first non-empty
    micro-batch builds the index — FREEZING the seed coarse quantizer
    on that batch's ``n_cells`` smallest-id vectors — and every later
    batch delta-merges against the frozen centroids
    (:func:`llm.vectors.add_to_ivf_index`: assignment is map-side
    against literal centroids; only the touched cell partitions are
    rewritten).  This is the continuous shape of a serving vector
    index: embeddings arrive from an upstream encoder and the index
    absorbs them without a rebuild, cost per batch ∝ delta size.

    Replay safety: the merge is an UPSERT by id (re-applying the same
    batch after a crash-before-checkpoint-commit yields the identical
    cells), and the bootstrap build is a full overwrite, so every
    batch is idempotent.  Seed determinism is the oracle hook — when
    the first batch contains the corpus's smallest-id vectors (the
    id-ordered backfill the entries stage), the frozen seeds equal a
    full-corpus build's, so a post-ingest :func:`llm.vectors
    .search_ivf_index` is hash-checkable against the SAME static IVF
    twin as ``vec_ivf_index_search`` — the hash proves build, three
    merges, partition pruning, and search in one pass."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import (
        _collect_centroids,
        add_to_ivf_index,
        build_ivf_index,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
        hadoop_path_exists,
    )

    # Per-RUN cache of the frozen, batch-independent merge state (r16
    # opt — the KS-monitor lesson, guide §2.4): the centroids are
    # frozen at build time and the streaming drain builds with
    # meta_cols=(), so every merge in this run shares one collected
    # copy instead of re-reading + re-collecting per micro-batch.
    # Closure state only — it lives exactly as long as this drain; a
    # crash-replay restart gets a fresh empty dict and falls back to
    # the read-from-path default inside add_to_ivf_index's params.
    frozen: dict = {}

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # Hadoop FS probe, not os.path.exists: the index path is a
        # Hadoop path (hdfs://, s3a://, file:) — a local-only check
        # would read False forever on a remote store and silently
        # REBUILD the index every batch, discarding all prior merges.
        if not hadoop_path_exists(spark, f"{index_path}/centroids"):
            frozen["cent"] = build_ivf_index(
                batch_df,
                index_path,
                n_cells=n_cells,
                id_col=id_col,
                vec_col=vec_col,
            )
            # built by THIS drain with meta_cols=() — schema known
            frozen["meta"] = []
        else:
            if "cent" not in frozen:
                # replay/restart path: first batch of this run is a
                # merge — collect the frozen state once from disk
                # (a pre-existing index may carry metadata columns,
                # so the schema is read, not assumed)
                frozen["cent"] = _collect_centroids(
                    spark.read.parquet(f"{index_path}/centroids")
                )
                stored = spark.read.parquet(f"{index_path}/cells").columns
                frozen["meta"] = [
                    c
                    for c in stored
                    if c not in (id_col, "__v", "__n", "cell_id")
                ]
            add_to_ivf_index(
                batch_df,
                index_path,
                id_col=id_col,
                vec_col=vec_col,
                cent_rows=frozen["cent"],
                stored_meta=frozen["meta"],
            )
        release_staging(blocking=True)

    q = (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the frozen centroids (or None when the drain saw no batches) —
    # a post-drain search threads them instead of re-collecting
    return frozen.get("cent")


def stream_pq_index_ingest(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    n_cells: int = 8,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list | None, dict | None]:
    """Drain an embedding ``stream`` (``availableNow``) into the
    persisted IVF-PQ index at ``index_path`` (r14, the r12 verdict's
    #7 carried through r13): the COMPRESSED twin of
    :func:`stream_ann_index_ingest`.  The first non-empty micro-batch
    builds the index — freezing BOTH quantizers on that batch (seed
    coarse centroids + driver-Lloyd PQ codebooks) — and every later
    batch residual-encodes against the frozen parameters and merges
    (:func:`llm.vectors.add_to_ivfpq_index`): only touched code-cell
    partitions rewrite, the raw-vector re-rank relation takes an
    idempotent by-id append.

    Replay safety is exactly what the r13 ADVICE #5 fix bought: both
    merge legs anti-join independently, so a crash-replay ANYWHERE —
    before the codes write, between the two writes, after both —
    converges to the identical index; and the r14 true-update guard
    makes a NON-identical replay (a changed vector for a stored id)
    fail loud instead of half-applying.  Frozen parameters mean the
    drained index is bit-identical to a fresh
    :func:`llm.vectors.build_ivfpq_index` over the full corpus with
    the same centroids/codebooks (pinned in
    tests/test_ivfpq_index.py) — the serving contract: per-batch cost
    ∝ delta, retraining deferred to explicit rebuilds."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import (
        _collect_centroids,
        _collect_codebooks,
        add_to_ivfpq_index,
        build_ivfpq_index,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
        hadoop_path_exists,
    )

    # Per-RUN cache of the frozen merge state (r16 opt — the
    # KS-monitor lesson, guide §2.4): centroids AND PQ codebooks are
    # frozen at build time, so every merge in this run shares one
    # collected copy — two driver collect jobs + a schema listing per
    # micro-batch deleted.  Closure-scoped (lives only for this
    # drain); a crash-replay restart starts empty and re-collects
    # once from disk.
    frozen: dict = {}

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # Hadoop FS probe, not os.path (hdfs/s3a-correct — the r13
        # ADVICE #4 contract): a local-only check would read False
        # forever on a remote store and rebuild every batch.  Probe
        # the LAST-written build artifact (r15 / ADVICE):
        # build_ivfpq_index writes codes → vectors → centroids →
        # codebooks, so a crash mid-build can leave centroids present
        # without codebooks — probing centroids would then route every
        # replay to the merge path, which dies reading codebooks and
        # never converges.  Probing codebooks means an interrupted
        # build replays through the overwrite-mode rebuild instead
        # (the raw twin above already probes ITS last artifact,
        # centroids).
        if not hadoop_path_exists(spark, f"{index_path}/codebooks"):
            frozen["cent"], frozen["codes"] = build_ivfpq_index(
                batch_df,
                index_path,
                n_cells=n_cells,
                m=m,
                k_codes=k_codes,
                id_col=id_col,
                vec_col=vec_col,
            )
            # built by THIS drain with meta_cols=() — schema known
            frozen["meta"] = []
        else:
            if "cent" not in frozen:
                # replay/restart path: first batch of this run is a
                # merge — collect the frozen state once from disk
                frozen["cent"] = _collect_centroids(
                    spark.read.parquet(f"{index_path}/centroids")
                )
                frozen["codes"] = _collect_codebooks(
                    spark.read.parquet(f"{index_path}/codebooks")
                )
                stored = spark.read.parquet(f"{index_path}/codes").columns
                frozen["meta"] = [
                    c
                    for c in stored
                    if c not in (id_col, "__n", "__codes", "cell_id")
                ]
            add_to_ivfpq_index(
                batch_df,
                index_path,
                id_col=id_col,
                vec_col=vec_col,
                cent_rows=frozen["cent"],
                by_sub=frozen["codes"],
                stored_meta=frozen["meta"],
            )
        release_staging(blocking=True)

    q = (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the frozen parameters (or Nones when the drain saw no batches)
    # — a post-drain search threads them instead of re-collecting
    return frozen.get("cent"), frozen.get("codes")
