"""Streaming drift monitoring — the continuous form of the batch
drift family (operators/drift.py): every micro-batch of a value
stream is scored against a STATIC reference snapshot and the
per-batch PSI profile lands in a result table, so a dashboard (or a
circuit breaker) watches the drift trajectory as data arrives — the
"alert me when the new day's distribution leaves the training
snapshot's shape" loop every feature store runs.

Shape per micro-batch: each monitor runs the batch statistic's one
Spark path (operators/drift.py) — the reference side is reduced ONCE
per run to a batch-independent state, and each micro-batch score
touches only the batch, so per-batch cost is ∝ batch:

* PSI: ``psi_freeze_reference`` collects the reference's bucket edges
  and per-bucket counts as bounded driver literals (frozen edges are
  the PSI convention AND what makes per-batch profiles comparable to
  each other); ``psi_profile_frozen`` scores the batch.
* χ²: ``chi2_freeze_reference`` collects the per-category counts
  (bounded by the category domain); ``chi2_drift_frozen`` scores.
* KS: the reference's per-distinct-value counts
  (``ks_side_counts``) are not a bounded sketch, so they stay in
  Spark — staged once for the run and merged by value with each
  batch's own counts in ``ks_2sample``.

The batch drift entries run the same pairs, so the streaming rows
hash against the exact batch twins.  Replay safety: results write
via dynamic partition overwrite of the batch's OWN ``ingest_batch``
partition (the ingest.py idiom) — a replayed batch id overwrites
itself instead of duplicating rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import (
    release_staging,
    stage,
    staging_scope,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import (
    DRIFT_CUR_SQL,
    chi2_drift_frozen,
    chi2_drift_sql,
    chi2_freeze_reference,
    ks_2sample,
    ks_2sample_sql,
    ks_side_counts,
    psi_freeze_reference,
    psi_profile_frozen,
    psi_profile_sql,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import drain

#: The monitor twins replay the drift entries' current window as the
#: three ``event_id % 3`` micro-batches the registered monitor entries
#: stream.
_BATCH_SQLS = [f"{DRIFT_CUR_SQL} AND event_id % 3 = {k}" for k in range(3)]


def _drain_scored(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    score: Callable[[DataFrame], DataFrame],
) -> None:
    """The monitors' shared sink: drain ``stream``, score each
    micro-batch with ``score``, tag the result with its
    ``ingest_batch`` and write it as ONE file into that batch's own
    partition of ``out_path`` by dynamic overwrite — a replayed batch
    id overwrites itself instead of duplicating rows.  Empty
    micro-batches are scored too, so written partitions stay aligned
    with the twins' declared batch indices."""
    def _write(batch: DataFrame, batch_id: int) -> None:
        (
            score(batch)
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .coalesce(1)
            .write.partitionBy("ingest_batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(out_path)
        )

    drain(stream, checkpoint, _write)


def _per_batch_union(twin: Callable[[str], str], order_by: str) -> str:
    """DuckDB form of a monitor run: the batch twin per micro-batch,
    tagged with its ``ingest_batch`` index and unioned (batches are
    independent given the frozen reference)."""
    parts = [
        f"SELECT {k} AS ingest_batch, * FROM (" + twin(bsql) + ")"
        for k, bsql in enumerate(_BATCH_SQLS)
    ]
    return (
        "SELECT * FROM (\n"
        + "\nUNION ALL\n".join(parts)
        + f"\n) ORDER BY {order_by}"
    )


def stream_psi_monitor(
    stream: DataFrame,
    reference: DataFrame,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain ``stream`` (``availableNow``) scoring each micro-batch's
    ``value`` distribution against ``reference`` with
    :func:`~...operators.drift.psi_profile_frozen`; per-batch profiles land
    partitioned by ``ingest_batch`` at ``out_path``.  An empty
    micro-batch scores as an all-zero ``cur_n`` column over the full
    bucket spine."""
    # ONE reference scan for the whole run: edges + per-bucket counts
    # collapse to a bounded driver-side literal every batch reuses
    frozen = psi_freeze_reference(reference)
    _drain_scored(
        stream,
        out_path,
        checkpoint,
        lambda batch: psi_profile_frozen(batch, frozen),
    )


def stream_ks_monitor(
    stream: DataFrame,
    reference: DataFrame,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain ``stream`` (``availableNow``) scoring each micro-batch
    against ``reference`` with the EXACT two-sample KS statistic
    (:func:`~...operators.drift.ks_2sample`, a = reference, b =
    batch); the one-row-per-batch verdicts land partitioned by
    ``ingest_batch`` at ``out_path`` — the distribution-free
    complement to :func:`stream_psi_monitor` (PSI needs the binning
    convention; KS asks only "did the CDF move").

    Per-batch cost: the reference's counts aggregate once per run,
    so each batch pays its own distinct-value aggregate, a merge
    against the cached counts and the bounded two-level CDF.
    Replay-safe the same way as the PSI monitor (a replayed batch id
    overwrites its own partition).  Empty micro-batches are scored
    too — ``n_b = 0`` yields a NULL ``ks_stat`` row, keeping written
    partitions aligned with the twin's batch indices."""
    # the reference's distinct-value CDF state is not a bounded sketch
    # (unlike the PSI edges+counts), so it cannot collapse to driver
    # literals — but it CAN be computed once: its per-distinct-value
    # counts are batch-independent, so they aggregate ONCE per run
    # (staged + eagerly filled) and each micro-batch merges its own
    # counts against them.  Named scope: foreachBatch runs on the
    # STREAM EXECUTION thread, whose per-batch release must not evict
    # the cross-thread ref.
    ref_tag = f"stream_ks_monitor_ref:{out_path}"
    with staging_scope(ref_tag):
        # the cache holds the counts HASH-PARTITIONED on the merge
        # key: the cached partitioning satisfies the per-batch join's
        # distribution requirement, so each batch shuffles only its OWN
        # counts (guide §2.4 — two operations keyed the same way share
        # one exchange)
        ref_counts = stage(ks_side_counts(reference).repartition("__v"))
    try:
        # inside the try: a fill that fails must still release the ref
        ref_counts.count()
        _drain_scored(
            stream,
            out_path,
            checkpoint,
            lambda batch: ks_2sample(ref_counts, batch),
        )
    finally:
        release_staging(tag=ref_tag)


def stream_ks_monitor_sql() -> str:
    """DuckDB twin of :func:`stream_ks_monitor` — the batch KS twin
    per micro-batch, batch-tagged and unioned (batches are
    independent given the frozen reference)."""
    return _per_batch_union(
        lambda bsql: ks_2sample_sql(bsql),
        "ingest_batch",
    )


def stream_chi2_monitor(
    stream: DataFrame,
    reference: DataFrame,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain ``stream`` (``availableNow``) scoring each micro-batch's
    CATEGORY MIX against ``reference`` with Pearson χ²
    (:func:`~...operators.drift.chi2_drift_frozen`) — the categorical
    leg completing the streaming drift panel (PSI: binned continuous;
    KS: distribution-free continuous; χ²: category mix).  The
    reference's per-category counts are frozen once (bounded by the
    category domain), so per-batch cost is one batch scan; per-batch
    profiles land partitioned by ``ingest_batch`` (replay-safe
    dynamic overwrite).  Empty micro-batches are scored too (all-zero
    cur_n over the reference's categories)."""
    frozen = chi2_freeze_reference(reference)
    _drain_scored(
        stream,
        out_path,
        checkpoint,
        lambda batch: chi2_drift_frozen(batch, frozen),
    )


def stream_chi2_monitor_sql() -> str:
    """DuckDB twin of :func:`stream_chi2_monitor` — the batch χ² twin
    per micro-batch, batch-tagged and unioned."""
    return _per_batch_union(
        lambda bsql: chi2_drift_sql(bsql),
        "ingest_batch, category",
    )


def stream_psi_monitor_sql() -> str:
    """DuckDB twin of :func:`stream_psi_monitor` — the batch PSI twin
    per micro-batch, batch-tagged and unioned (each micro-batch's
    profile is independent given the frozen reference, so the
    streaming run equals the per-batch batch computation by
    construction)."""
    return _per_batch_union(
        lambda bsql: psi_profile_sql(bsql),
        "ingest_batch, bucket",
    )
