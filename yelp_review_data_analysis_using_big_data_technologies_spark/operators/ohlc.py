"""OHLC time-series downsampling (open/high/low/close bars).

The standard "resample a tick stream to bars" operator every
time-series store exposes (kdb+ ``xbar``, TimescaleDB
``time_bucket`` + ``first``/``last``, Influx ``aggregateWindow``).
Spark has no ``first_in_time_order`` aggregate that is safe under
shuffle — ``F.first`` is explicitly non-deterministic — so open and
close ride the one-pass ``min(struct)`` / ``max(struct)`` shape this
repo already uses for keyed dedup and CDC latest-state: the struct
comparison (ts, tiebreak-id, value) picks the earliest/latest row
per bar deterministically, including under duplicate timestamps and
duplicate/NULL ids (NULL ids coalesce to a sentinel BEFORE the
comparison, so both engines order them identically; exact full-key
duplicates fall through to the value itself, which makes the
selection a pure function of the row multiset).

Plan shape: a single partial aggregate — filter → project →
groupBy(keys, bucket) — one shuffle on (keys, bucket), map-side
combine, no window, no join.  Bars per key scale with time range,
not row count, so the output is tiny relative to the input; at
100 TB this is the classic reduce-by-key that AQE handles well, and
a skewed key (one instrument with most ticks) still partial-aggs
map-side before the shuffle.

Row contract (documented, entry-level): rows with NULL timestamp
(no bar) or NULL/non-finite value (no price) are dropped — every
output column then describes the SAME row set, the lesson of the
EWMA null-contract fix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: sentinel for NULL tie-break ids — far below any real BIGINT id so
#: both engines order NULL-id rows first, identically.
_NULL_ID_SENTINEL = -(2**62)


def ohlc_bars(events: DataFrame) -> DataFrame:
    """Per-``event_type`` hourly OHLC bars of ``value`` (ties broken
    by ``event_id``): ``(event_type, bucket_ts, open, high, low,
    close, n_events, total_value, mean_value)``, ordered by
    (event_type, bucket_ts).
    """
    ts = F.col("ts")
    v = F.col("value")
    valid = (
        ts.isNotNull()
        & v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != F.lit(float("inf")))
    )
    staged = events.where(valid).select(
        "event_type",
        F.date_trunc("hour", ts).alias("bucket_ts"),
        ts.alias("__ts"),
        F.coalesce(F.col("event_id"), F.lit(_NULL_ID_SENTINEL)).alias("__id"),
        v.alias("__v"),
    )
    sel = F.struct("__ts", "__id", "__v")
    return (
        staged.groupBy("event_type", "bucket_ts")
        .agg(
            F.min(sel).getField("__v").alias("open"),
            F.max("__v").alias("high"),
            F.min("__v").alias("low"),
            F.max(sel).getField("__v").alias("close"),
            F.count("*").alias("n_events"),
            F.round(F.sum("__v"), 6).alias("total_value"),
            F.round(F.avg("__v"), 6).alias("mean_value"),
        )
        .orderBy("event_type", "bucket_ts")
    )


def ohlc_bars_sql(table: str = "events") -> str:
    """DuckDB twin of :func:`ohlc_bars` — the deliberately naive
    row_number formulation (QUALIFY-style argmin/argmax) against
    which the one-pass min(struct) plan is verified."""
    return f"""
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         ts AS __ts,
         COALESCE(event_id, {_NULL_ID_SENTINEL}) AS __id,
         value AS __v
  FROM {table}
  WHERE ts IS NOT NULL AND value IS NOT NULL
        AND isfinite(value)
), r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bucket_ts
                       ORDER BY __ts, __id, __v) AS __ra,
    row_number() OVER (PARTITION BY event_type, bucket_ts
                       ORDER BY __ts DESC, __id DESC, __v DESC) AS __rd
  FROM e
)
SELECT event_type, bucket_ts,
       max(CASE WHEN __ra = 1 THEN __v END) AS open,
       max(__v) AS high,
       min(__v) AS low,
       max(CASE WHEN __rd = 1 THEN __v END) AS close,
       count(*) AS n_events,
       round(sum(__v), 6) + 0 AS total_value,
       round(avg(__v), 6) + 0 AS mean_value
FROM r GROUP BY ALL ORDER BY event_type, bucket_ts
"""
