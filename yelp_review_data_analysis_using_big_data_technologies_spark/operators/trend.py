"""Per-key trend regression — exact distributed OLS of a measure on
time.

``regr_slope``/``regr_r2`` exist in both engines, but their streaming
covariance states merge in partition order, so the last ulps of the
result move with layout — exactly what the config-invariance gate
(AQE off, prime shuffle width) forbids.  This module computes the
same statistics from EXACT sufficient statistics instead:

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    r²    = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))

with x = exact MICROSECONDS since a fixed anchor (no unit division —
Spark ``div`` truncates toward zero where DuckDB ``//`` floors, a
divergence micros never hit) and y quantized to DECIMAL(19,6) (the
documented 1e-6 value contract — the same rounding every output
column already carries).  All five sums are decimal partial
aggregates: exact, associative, order-independent, map-side
combinable — ONE shuffle keyed on the group, and the float math
happens once per group on scalars, so both engines produce
bit-identical doubles.

Magnitude audit (the reason for the casts): month-scale x is already
~2.6·10¹² µs, so Σx² overflows bigint immediately — hence the decimal
sums.  The declared widths are deliberately TIGHT: DuckDB silently
falls back to DOUBLE when a decimal product binds wider than 38
digits (which would re-introduce the layout dependence), so x is
DECIMAL(19,0) (int128-backed in DuckDB — the 18-digit int64 form
overflows its own product at runtime) and y DECIMAL(19,6)
(|value| < 10¹³) — x², y², and xy all bind exactly in
both engines.  The n·Σxy − Σx·Σy combination happens on per-group
SCALARS after casting each exact sum to double, so it is a fixed
sequence of IEEE ops — identical bits in both engines — rather than
another decimal-width negotiation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed x-axis anchor — seconds are measured from here, keeping x
#: small and positive for the synthetic snapshots (any constant works;
#: the slope is translation-invariant, the sums are not overflow-wise)
ANCHOR = "2024-01-01 00:00:00"


def trend_regression(events: DataFrame) -> DataFrame:
    """Per-``event_type`` OLS of ``value`` on ``ts`` →
    ``(event_type, n, slope_per_day, intercept, r2)`` ordered by key.

    ``slope_per_day`` is the per-microsecond OLS slope scaled by
    8.64·10¹⁰ (a human-readable drift rate); ``intercept`` is the
    fitted value at ``ANCHOR``; ``r2`` the squared correlation.  Rows
    with NULL ts or NULL/non-finite/out-of-domain (|y| ≥ 1e12) values
    drop.  Keys with zero
    x-variance (all events at one instant) or zero y-variance report
    NULL slope / r² rather than a division blow-up."""
    v = F.col("value")
    # |y| < 1e12 is the DECIMAL(19,6) domain: a finite-but-enormous
    # value (1e300) passes a NaN/Inf filter and then ABORTS the whole
    # job at the ANSI decimal cast (the r8 extreme-magnitude lesson) —
    # out-of-domain rows drop like non-finite ones, identically in the
    # twin
    finite = (
        v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != F.lit(float("inf")))
        & (F.abs(v) < F.lit(1e12))
    )
    # x in exact MICROSECONDS since the anchor (no seconds division —
    # Spark `div` truncates toward zero where DuckDB `//` floors, and
    # micros need no division at all); the .cast("timestamp") is the
    # decay.py idiom: the loader yields TIMESTAMP_NTZ, which
    # unix_micros rejects, and the session pins UTC so the cast is
    # value-exact
    x = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lit(ANCHOR).cast("timestamp")
    )
    ev = events.where(F.col("ts").isNotNull() & finite).select(
        "event_type",
        x.cast("decimal(19,0)").alias("__x"),
        v.cast("decimal(19,6)").alias("__y"),
    )
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    # exact decimal sums -> double scalars -> one fixed IEEE sequence
    nd = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    num = nd * F.col("__sxy").cast("double") - sx * sy
    den_x = nd * F.col("__sxx").cast("double") - sx * sx
    den_y = nd * F.col("__syy").cast("double") - sy * sy
    slope = F.when(den_x > 0, num / den_x)
    mean_x = sx / nd
    mean_y = sy / nd
    return sums.select(
        "event_type",
        "n",
        F.round(slope * 86400.0e6, 6).alias("slope_per_day"),
        F.round(F.when(den_x > 0, mean_y - (num / den_x) * mean_x), 6).alias(
            "intercept"
        ),
        F.round(
            F.when((den_x > 0) & (den_y > 0), num * num / (den_x * den_y)), 6
        ).alias("r2"),
    ).orderBy("event_type")


def trend_regression_sql() -> str:
    """DuckDB twin of :func:`trend_regression` — the same exact
    sufficient statistics (``epoch_us`` ≡ Spark ``unix_micros``; the
    HUGEINT/decimal sums are cast to BIGINT-free doubles only at the
    final scalars, in the same IEEE order)."""
    return f"""
WITH ev AS (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(TIMESTAMP '{ANCHOR}')
              AS DECIMAL(19,0)) AS __x,
         CAST(value AS DECIMAL(19,6)) AS __y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
        AND isfinite(value) AND abs(value) < 1e12
), sums AS (
  SELECT event_type, count(*) AS n,
         sum(__x) AS __sx, sum(__x * __x) AS __sxx,
         sum(__y) AS __sy, sum(__y * __y) AS __syy,
         sum(__x * __y) AS __sxy
  FROM ev GROUP BY event_type
), d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) * CAST(__sxy AS DOUBLE)
           - CAST(__sx AS DOUBLE) * CAST(__sy AS DOUBLE) AS num,
         CAST(n AS DOUBLE) * CAST(__sxx AS DOUBLE)
           - CAST(__sx AS DOUBLE) * CAST(__sx AS DOUBLE) AS den_x,
         CAST(n AS DOUBLE) * CAST(__syy AS DOUBLE)
           - CAST(__sy AS DOUBLE) * CAST(__sy AS DOUBLE) AS den_y,
         CAST(__sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
         CAST(__sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y
  FROM sums
)
SELECT event_type, n,
       round(CASE WHEN den_x > 0 THEN num / den_x END * 86400.0e6, 6)
         AS slope_per_day,
       round(CASE WHEN den_x > 0
             THEN mean_y - (num / den_x) * mean_x END, 6) AS intercept,
       round(CASE WHEN den_x > 0 AND den_y > 0
             THEN num * num / (den_x * den_y) END, 6) AS r2
FROM d ORDER BY event_type
"""
