"""Exponential time-decay aggregates (recency-weighted analytics).

Feature stores and engagement dashboards want "the average, but
recent events count more" — the exponentially-weighted moving
average at an anchor time T with half-life H:

    ewma(T) = Σ v_i · 2^(-(T - t_i)/H)  /  Σ 2^(-(T - t_i)/H)

Spark has no native EWMA, and the textbook formulation (ordered scan
with a running state) serializes per key.  But at a FIXED anchor the
weights are independent per row, so the whole thing is a plain
partial aggregate: one shuffle on the group key, map-side combine,
no window, no state — the same plan shape as ``avg``.  That is the
scale formulation: the ordered-scan EWMA is what you use on a
STREAM; at rest you re-anchor and re-aggregate.

Engine-portable determinism: Δt rides as exact ``unix_micros``
integers and the weight is ``exp(Δt_us · ln(0.5)/H_us)`` — both
engines evaluate libm ``exp`` over identical double inputs, and
outputs are rounded to 6 dp like every float contract in this repo.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: EWMA half-life of :func:`ewma_by_key` and its twin: one week.
HALF_LIFE_S = 7 * 24 * 3600.0


def decay_weight(anchor_us: Column) -> Column:
    """Weight ``2^(-(anchor - ts)/HALF_LIFE_S)`` for one event — 1.0
    at the anchor, 0.5 one half-life earlier.  Future events (t > anchor)
    would amplify instead of decay; they are the caller's watermark
    problem and weigh > 1 here by design (visible, not clamped)."""
    # cast: the parquet loader yields TIMESTAMP_NTZ, which unix_micros
    # rejects; the session is pinned UTC so the cast is value-exact
    dt_us = anchor_us - F.unix_micros(F.col("ts").cast("timestamp"))
    rate = math.log(0.5) / (HALF_LIFE_S * 1_000_000.0)
    return F.exp(dt_us.cast("double") * F.lit(rate))


def ewma_by_key(events: DataFrame) -> DataFrame:
    """Per-``event_type`` EWMA of ``value`` (half-life ``HALF_LIFE_S``) anchored at the table's max
    ``ts`` (the "now" of the dataset), plus the plain average for
    contrast and the effective sample size ``(Σw)²/Σw²`` (how many
    "fully-weighted" events the decayed estimate is worth — the
    standard reliability dial for downstream consumers).

    Plan: one 1-row max(ts) aggregate broadcast onto the events
    (bounded build side), then a single partial aggregate on the
    keys.  A row contributes only when BOTH ``value`` and
    ``ts`` are non-NULL — a NULL timestamp has no decay weight,
    so the row is excluded from ``n``/``plain_avg``/``effective_n``
    too; the three output columns always cover the same row set.
    Non-finite values are the caller's `_finite_value` contract, as
    everywhere in the events family."""
    anchor = events.agg(F.max("ts").alias("__anchor_ts")).select(
        F.unix_micros(F.col("__anchor_ts").cast("timestamp")).alias(
            "__anchor_us"
        )
    )
    keys = ["event_type"]
    w = decay_weight(F.col("__anchor_us"))
    v = F.col("value")
    valid = v.isNotNull() & F.col("ts").isNotNull()
    weighted = events.join(F.broadcast(anchor)).select(
        *keys,
        F.when(valid, v).alias("__v"),
        F.when(valid, w).alias("__w"),
    )
    sw = F.sum("__w")
    return (
        weighted.groupBy(*keys)
        .agg(
            F.count("__v").alias("n"),
            F.round(F.sum(F.col("__w") * F.col("__v")) / sw, 6).alias("ewma"),
            F.round(F.avg("__v"), 6).alias("plain_avg"),
            F.round(
                (sw * sw) / F.sum(F.col("__w") * F.col("__w")), 6
            ).alias("effective_n"),
        )
        .orderBy(*keys)
    )


def ewma_by_key_sql(table: str = "events") -> str:
    """DuckDB twin — identical arithmetic over ``epoch_us`` integers
    (value AND weight guarded to rows where both value and timestamp
    are non-NULL, exactly like the Spark side)."""
    rate = repr(math.log(0.5) / (HALF_LIFE_S * 1_000_000.0))
    valid = "value IS NOT NULL AND ts IS NOT NULL"
    return f"""
WITH anchored AS (
  SELECT event_type,
         CASE WHEN {valid} THEN value END AS __v,
         CASE WHEN {valid} THEN
           exp(CAST((SELECT epoch_us(max(ts)) FROM {table})
                    - epoch_us(ts) AS DOUBLE) * ({rate}))
         END AS __w
  FROM {table}
)
SELECT event_type, count(__v) AS n,
       round(sum(__w * __v) / sum(__w), 6) + 0 AS ewma,
       round(avg(__v), 6) + 0 AS plain_avg,
       round(sum(__w) * sum(__w) / sum(__w * __w), 6) AS effective_n
FROM anchored GROUP BY event_type ORDER BY event_type
"""
