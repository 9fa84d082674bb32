"""Stream-stream joins and merge sinks (SURVEY.md §2.10 extension).

Two pieces the windowed-aggregation layer doesn't cover:

- :func:`stream_stream_interval_join` — joining two live streams.
  Unlike a stream-static join, BOTH sides buffer state; the join is
  only feasible because (a) an equi-key partitions the state
  (shuffle key = user), and (b) watermarks + a time-range predicate
  bound how long each side's rows are retained.  Without the range
  condition Spark would have to keep every past row forever.
- :func:`stream_merge_to_parquet` — a ``foreachBatch`` sink that
  MERGES each micro-batch into a partitioned parquet table via
  ``writers.upsert_by_key`` (keyed upsert, partition-pruned rewrite)
  instead of appending files: the streaming path to a continuously
  deduplicated serving table.  foreachBatch gives the batch writer's
  full API per micro-batch while the checkpoint tracks source
  offsets, so a crashed job re-merges its last batch idempotently
  (same keys → same replacement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import drain


def stream_stream_interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Inner-join two event streams on ``user_id`` where the right
    event's ``r_ts`` falls within ``[l_ts - 1 hour, l_ts]`` — "enrich
    every click with the purchases of the preceding hour".

    State bounds: both sides are watermarked (1 hour), and the
    interval condition lets Spark evict a buffered right row once the
    left watermark passes ``r_ts + 1 hour`` (and vice versa).  The
    same body executes in batch mode, which is how the oracle checks
    it.  Column names must already be disjoint apart from ``user_id``.
    """
    is_streaming = left.isStreaming or right.isStreaming
    l = left.withWatermark("l_ts", "1 hour") if is_streaming else left
    r = right.withWatermark("r_ts", "1 hour") if is_streaming else right
    cond = (
        "l.user_id = r.user_id AND "
        "l_ts - INTERVAL 1 hour <= r_ts "
        "AND r_ts <= l_ts"
    )
    return (
        l.alias("l")
        .join(r.alias("r"), F.expr(cond), "inner")
        .select(
            F.col("l.user_id").alias("user_id"),
            *[F.col(f"l.{c}") for c in left.columns if c != "user_id"],
            *[F.col(f"r.{c}") for c in right.columns if c != "user_id"],
        )
    )


def stream_merge_to_parquet(result: DataFrame, path: str, checkpoint: str) -> None:
    """Run a stream to completion (``availableNow``), MERGING each
    micro-batch into the ``event_type``-partitioned parquet table at
    ``path``: same-``user_id`` rows are replaced, new keys insert,
    only touched partitions rewrite (``writers.upsert_by_key``).
    First batch bootstraps the table.

    Replace semantics are LATEST-VERSION-WINS on ``ts`` (the CDC
    event's ordering column): at-least-once CDC sources replay and
    overlap batches, and a stale row in a later batch must not
    REGRESS its key, so the merged table converges to the per-key
    max-version state under any delivery order, overlap, or replay
    (``writers.latest_version_rows``; the bootstrap batch is collapsed
    through the same window so the table is key-unique from birth).

    Bootstrap-vs-merge is decided by
    :func:`sources.writers.hadoop_table_exists`, which asks the path's
    own filesystem for a data file — not ``os.path.exists``, which
    would see nothing on HDFS/S3 and silently overwrite the table every
    micro-batch.  A table that exists but cannot be read fails the
    merge's read instead of bootstrapping over the accumulated view."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
        hadoop_table_exists,
        latest_version_rows,
        upsert_by_key,
        write_parquet,
    )

    keys, partition_by = ["user_id"], ["event_type"]

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not hadoop_table_exists(spark, path):
            first = latest_version_rows(None, batch_df, keys, "ts")
            write_parquet(first, path, partition_by=partition_by)
        else:
            upsert_by_key(
                spark,
                path,
                batch_df,
                keys=keys,
                partition_by=partition_by,
                version_col="ts",
            )

    drain(result, checkpoint, _merge)


def stream_increment_counts_to_parquet(
    events: DataFrame, path: str, checkpoint: str
) -> None:
    """Incremental MATERIALIZED-VIEW maintenance: each micro-batch's
    per-``event_type`` partial counts ``n`` and ``value`` sums ``s``
    merge ADDITIVELY into the ``event_type``-partitioned parquet
    aggregate table — existing keys gain the batch's
    partials, new keys insert.  The complement of
    :func:`stream_merge_to_parquet`'s replace-merge: replace maintains
    latest-state views, additive maintains COUNT/SUM views — the two
    merge semantics that make a streaming pipeline's derived tables
    incremental instead of nightly full recomputes.

    Per batch: one partial agg over the (small) micro-batch, an outer
    merge against the view keyed rows, one rewrite.  The rewrite is
    PARTITION-PRUNED, the same shape as ``upsert_by_key``: only the
    partitions the batch's partials touch are read, merged, and
    dynamically overwritten — the rewritten byte volume follows the
    batch's key locality, not the view's width.

    Exactly-once needs more than foreachBatch's replay here: additive
    merges are NOT naturally idempotent (a replayed batch would add
    its partials twice — unlike the replace-merge above).  The view
    therefore carries a ``__max_batch_id`` watermark column, and the
    replay skip is decided PER PARTITION: the multi-partition dynamic
    overwrite is not atomic, so a crash mid-commit can leave some
    touched partitions committed and others not — a replayed batch
    re-merges exactly the partitions whose watermark has not reached
    it and leaves committed ones untouched.  The view
    bootstraps only where no data file exists
    (:func:`sources.writers.hadoop_table_exists`); an existing view
    that cannot be read raises instead of being reinitialized."""
    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
        hadoop_table_exists,
        overwrite_partitions_dynamic,
        partition_prune_predicate,
        write_parquet,
    )

    keys = partition_by = ["event_type"]

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )

    def _additive(current: DataFrame, partial: DataFrame) -> DataFrame:
        return (
            current.unionByName(partial)
            .groupBy(*keys)
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").alias("s"),
                F.max("__max_batch_id").alias("__max_batch_id"),
            )
        )

    def _read_current(spark, partial: DataFrame) -> DataFrame:
        """Read the view back with partition values in the PARTIAL's
        types, not parquet type inference's: a string partition value
        with numeric shape ("01" → inferred int 1) would never match
        the batch's tuples in the replay-skip set, so a replayed batch
        would re-merge an already-committed partition and double-add
        its partials — and the rewrite would land in a NEW directory
        (k=1 beside k=01).  Inference off → directory strings → cast
        to the batch frame's own partition dtypes."""
        conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(conf, "true")
        spark.conf.set(conf, "false")
        try:
            cur = spark.read.parquet(path)
        finally:
            spark.conf.set(conf, prev)
        for c in partition_by:
            cur = cur.withColumn(c, F.col(c).cast(partial.schema[c].dataType))
        return cur

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = _agg(batch_df).withColumn(
            "__max_batch_id", F.lit(batch_id).cast("long")
        )
        if not hadoop_table_exists(spark, path):
            write_parquet(partial, path, partition_by=partition_by)
            return
        current = _read_current(spark, partial)
        if not partial.head(1):
            return  # empty batch: zero partitions to touch
        # The replay skip must be decided PER PARTITION, not from
        # one global max: the multi-partition dynamic overwrite is
        # not atomic, so a crash mid-commit can leave SOME touched
        # partitions carrying this batch's watermark while others
        # never committed.  A global `max >= batch_id` skip would
        # then drop the uncommitted partitions' partials forever.
        # Partitions already at >= batch_id are left untouched
        # (their directories are not rewritten); the rest merge.
        touched = partial.select(*partition_by).distinct().collect()
        pruned = current.filter(
            partition_prune_predicate(current, touched, partition_by)
        )
        done = {
            tuple(r[c] for c in partition_by)
            for r in pruned.groupBy(*partition_by)
            .agg(F.max("__max_batch_id").alias("__mb"))
            .collect()
            if r["__mb"] is not None and r["__mb"] >= batch_id
        }
        todo = [
            r
            for r in touched
            if tuple(r[c] for c in partition_by) not in done
        ]
        if not todo:
            return  # replayed batch: every partition already merged
        pruned_todo = current.filter(
            partition_prune_predicate(current, todo, partition_by)
        )
        partial_todo = partial.filter(
            partition_prune_predicate(partial, todo, partition_by)
        )
        # materialize before overwriting the partitions being read
        out = _additive(pruned_todo, partial_todo).localCheckpoint(
            eager=True
        )
        overwrite_partitions_dynamic(out, path, partition_by)

    drain(events, checkpoint, _merge)
