"""Windowed streaming aggregations over the ``events`` table.

Design:

- ``stream_events`` reads the same parquet the batch path reads, as a
  stream (explicit schema — streams can't infer), normalizing the
  TIMESTAMP(NANOS) column exactly like ``sources.readers.load_table``.
- ``tumbling_counts`` is the tumbling-window count/sum aggregation;
  the SAME function body works under batch and streaming input — one
  definition, two execution modes, which is the whole point of
  Structured Streaming's unified model.
- ``run_available_now`` executes a streaming DataFrame to completion
  with the ``availableNow`` trigger into a memory sink and returns the
  result table: batch-replay semantics, so the driver's DuckDB oracle
  can check the output against plain GROUP BY SQL.
- ``drain`` is the one ``availableNow`` ``foreachBatch`` runner every
  batch-API sink (dedup ingest, merge sinks, drift monitors) goes
  through: trigger, checkpoint and per-batch staging release live
  here and nowhere else.

Watermark semantics (late-data policy) are covered by unit tests
rather than the oracle: in ``append`` mode a window only emits once
the watermark passes its end, so the trailing window is *held back* —
correct streaming behavior that plain batch SQL can't mirror.

At scale: the aggregation state is partitioned by (window,
event_type) — the shuffle key of the stateful operator; watermarks
bound the state size, and ``availableNow`` lets the same job run as
an incremental backfill.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.columns import FINITE_EVENTS_SQL
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import read_parquet

#: Explicit stream schema for events.parquet with a ``{ts}`` hole —
#: streams can't infer, and ``ts``'s declared type must match the
#: file's physical type (read per file in ``stream_events``).
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts {ts}, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet, normalizing ``ts``
    exactly like the batch reader (sources/readers.py).

    Fixture generations have shipped ``ts`` as both TIMESTAMP(NANOS)
    (a long under ``nanosAsLong``) and TIMESTAMP(MICROS); declaring
    the wrong one silently mis-scales every window by 1000×, so the
    file's schema is read first — through the batch reader's schema
    memo, which infers it at most once per file — and the stream
    schema + conversion follow the file."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = (
        read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        .schema["ts"]
        .dataType
    )
    ts_is_ns_long = isinstance(probe, T.LongType)
    # FileStreamSource wants a directory; the fixture is a single file,
    # so stream the directory with a glob filter on the file name.
    raw = (
        spark.readStream.schema(
            EVENTS_STREAM_SCHEMA.format(ts="long" if ts_is_ns_long else "timestamp")
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_is_ns_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour-window event counts + value sums per event type.

    Works identically on a batch or streaming ``events`` frame (a
    stream runs in complete mode: no watermark bounds its state).
    """
    # A tumbling window IS a sliding window whose slide equals its
    # width (F.window(ts, w) == F.window(ts, w, w)) — one shared body.
    return sliding_counts(events, slide="1 hour")


def sliding_counts(events: DataFrame, slide: str = "30 minutes") -> DataFrame:
    """Sliding 1-hour-window event counts + value sums per event type:
    each event contributes to ``1 hour / slide`` overlapping windows (Spark
    materializes the replication inside the WindowExec, not as an
    explode).  Same batch/streaming duality as :func:`tumbling_counts`;
    state keys grow by the overlap factor."""
    return (
        events.groupBy(F.window("ts", "1 hour", slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts_sql() -> str:
    """DuckDB twin of :func:`sliding_counts` (1-hour windows) at its
    default 30-minute slide.  NULL-ts rows are excluded to mirror
    Spark's event-time contract (``F.window``/``session_window`` drop
    rows with no event time).  Each event lands in the 2 windows on
    the 30-minute slide grid that cover it — its own slot and the
    preceding one — replicated with unnest."""
    offsets = ", ".join(f"slot - INTERVAL {i * 1800} SECOND" for i in range(2))
    return f"""
WITH slotted AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT)
                        * 1800 * 1000000) AS slot,
         event_type, value
  FROM events WHERE ts IS NOT NULL
), w AS (
  SELECT unnest([{offsets}]) AS window_start,
         event_type, value
  FROM slotted
)
SELECT window_start, event_type, count(*) AS n,
       round(sum(value), 2) + 0 AS sum_value
FROM w GROUP BY 1, 2
"""


def tumbling_ohlc(events: DataFrame) -> DataFrame:
    """Streaming 1-hour OHLC bars: the batch resampling primitive
    (operators/ohlc.py) under Structured-Streaming state — open and
    close ride the same deterministic ``min(struct)``/``max(struct)``
    selection, which is ORDER-AGNOSTIC and therefore safe under
    micro-batch replay and shuffle alike (``F.first`` over a stream
    would depend on arrival order).  State per (window, key) is one
    struct pair plus the scalar aggregates — O(1) per bar, the same
    footprint as a count.

    Batch/streaming duality as :func:`tumbling_counts`, without a
    watermark (complete-mode/batch).  Rows with NULL, NaN, or ±Inf value are
    dropped — the SAME guard as the batch ``ohlc_bars``
    (operators/ohlc.py), so the streaming form never diverges from
    its batch twin when a non-finite tick arrives (a NaN would poison
    ``high``/``total_value`` for the whole bar; NULL ts rows are
    dropped by ``F.window`` itself).  NULL ids coalesce to the batch
    operator's sentinel so tie-breaks agree with the batch twin
    everywhere.
    """
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.ohlc import _NULL_ID_SENTINEL

    v = F.col("value")
    finite = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    staged = events.where(finite).select(
        F.col("ts"),
        F.col("event_type"),
        F.coalesce(F.col("event_id"), F.lit(_NULL_ID_SENTINEL)).alias(
            "__id"
        ),
        v.alias("__v"),
    )
    sel = F.struct("ts", "__id", "__v")
    return (
        staged.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(sel).getField("__v").alias("open"),
            F.max("__v").alias("high"),
            F.min("__v").alias("low"),
            F.max(sel).getField("__v").alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("__v"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
            "total_value",
        )
    )


def tumbling_ohlc_sql() -> str:
    """DuckDB twin of :func:`tumbling_ohlc` — same epoch-floor window
    grid as :func:`sliding_counts_sql`, same row_number argmin/argmax
    formulation as the batch OHLC twin, over the same finite events
    (``FINITE_EVENTS_SQL``)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.ohlc import _NULL_ID_SENTINEL

    return f"""
WITH e AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT)
                        * 3600 * 1000000) AS window_start,
         event_type, ts,
         COALESCE(event_id, {_NULL_ID_SENTINEL}) AS __id,
         value AS __v
  FROM {FINITE_EVENTS_SQL}
  WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
), r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, window_start
                       ORDER BY ts, __id, __v) AS __ra,
    row_number() OVER (PARTITION BY event_type, window_start
                       ORDER BY ts DESC, __id DESC, __v DESC) AS __rd
  FROM e
)
SELECT window_start, event_type,
       max(CASE WHEN __ra = 1 THEN __v END) AS open,
       max(__v) AS high,
       min(__v) AS low,
       max(CASE WHEN __rd = 1 THEN __v END) AS close,
       count(*) AS n,
       round(sum(__v), 6) + 0 AS total_value
FROM r GROUP BY 1, 2
"""


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window``:
    consecutive events of a user belong to one session while each
    arrives within 30 minutes of the previous.  Boundary semantics
    (verified empirically): an event exactly 30 minutes after its
    predecessor still MERGES — a new session starts only when the
    difference is strictly greater than the gap.

    Session state is partitioned by (user, session-window), the
    stateful operator's shuffle key.

    Output: one row per session with start, last event time, event
    count and value sum.
    """
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_ts",
            "n_events",
            "sum_value",
        )
    )


#: DuckDB twin of :func:`sessionize` — the lag/cumulative-sum
#: formulation of the same gap rule (new session iff diff is STRICTLY
#: greater than the gap, matching session_window's boundary merge).
def sessionize_sql() -> str:
    """DuckDB twin of :func:`sessionize` (30-minute gap) — same break
    rule (strictly-greater gap starts a new
    session) as the Spark gaps-and-islands build.  NULL-ts rows are
    excluded (Spark ``session_window`` drops them; a NULL user_id
    still forms its own session partition in both engines).

    Rows with the same ``ts`` are peers: ``lag`` gives one of them
    the break and the rest a zero gap, in whatever order DuckDB picks.
    The running ``sum`` therefore uses the default RANGE frame, which
    adds a whole peer group at once, so tied events always share one
    session (as they do in ``session_window``)."""
    return """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
       count(*) AS n_events, round(sum(value), 2) + 0 AS sum_value
FROM s GROUP BY user_id, sid
"""


def drain(
    stream: DataFrame,
    checkpoint: str,
    on_batch: Callable[[DataFrame, int], None],
) -> None:
    """Run ``stream`` to completion (``availableNow``) through
    ``foreachBatch(on_batch)`` with offsets checkpointed at
    ``checkpoint``; a failed micro-batch surfaces here as the
    ``StreamingQueryException`` raised by ``awaitTermination``.

    After every micro-batch — including one whose ``on_batch`` raised
    — the staging the batch registered on the stream-execution thread
    is released (a blocking ``release_staging()`` in a ``finally``),
    and not only for memory hygiene: banded staging persists plan
    fragments built over a table PATH, and Spark's cache manager
    substitutes a cached fragment into any later semantically-equal
    subplan — so the NEXT micro-batch's read of that table would
    silently resolve to THIS batch's file listing (observed: the dedup
    ingest admitted wave-2 docs despite wave-1 near dups).  Releasing
    once the batch's writes have materialized drops the fragments so
    every batch lists its tables fresh.  Staging that must outlive a
    batch (a run-wide reference) goes under a named
    :func:`llm.staging.staging_scope`, which this release leaves
    alone."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            on_batch(batch_df, batch_id)
        finally:
            release_staging()

    (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_available_now(
    result: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming DataFrame to completion (``availableNow``)
    into a memory sink; returns the sink table.

    ``availableNow`` processes everything currently in the source then
    stops — deterministic batch-replay, which is what makes the result
    oracle-checkable.  Memory sink is for tests/verification; the
    production path is a checkpointed ``foreachBatch`` sink through
    :func:`drain`.
    """
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = result.sparkSession
    return spark.table(query_name)
