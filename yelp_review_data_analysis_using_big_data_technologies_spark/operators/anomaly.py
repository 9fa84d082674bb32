"""Robust outlier profiling (Tukey IQR fences + classic z-scores).

The data-quality primitive monitoring pipelines run per metric key:
where do the bulk quantiles sit, how many points fall outside the
Tukey fences (q1 − 1.5·IQR, q3 + 1.5·IQR), and how many are >3 classic
standard deviations out.  Complements the MAD UDAF
(functions/udafs.py) — IQR fences are the textbook robust rule, MAD
the robust dispersion estimate.

Plan shape (the 100-TB story): pass 1 aggregates per-key stats
(exact interpolated percentiles + moments — ONE shuffle on the key);
the stats relation is key-cardinality-sized, so it BROADCASTS back
onto the events for the fence test; pass 2 is a second partial
aggregate counting outliers.  Two shuffles total, no window, no
sort of the full data, and the fence comparison uses the UNROUNDED
fences so boundary points classify identically in both engines
(rounding only happens at the output edge).

Exact percentiles sort per key inside the aggregate — the documented
trade for engine-exact twins (same as dashboard_price_quantiles);
swap in percentile_approx at production scale when ±ε is acceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Buckets of :func:`equidepth_histogram` and its twin (edges at the
#: quartiles).
HIST_BUCKETS = 4


def iqr_outlier_profile(events: DataFrame) -> DataFrame:
    """Per-``event_type`` robust outlier panel of ``value`` →
    ``(event_type, n, q1, q3, iqr, lo_fence, hi_fence, n_outliers,
    outlier_frac, n_z3)``.

    Rows with NULL or non-finite ``value`` are dropped up front
    (every output column covers the same row set).  ``n_z3`` counts
    |value − mean| > 3·stddev_samp; single-row keys have NULL stddev
    and therefore 0 such outliers — same on both engines.
    """
    v = F.col("value")
    finite = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    ev = events.where(finite).select("event_type", v.alias("__v"))
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile("__v", F.lit(0.25)).alias("__q1"),
        F.percentile("__v", F.lit(0.75)).alias("__q3"),
        F.avg("__v").alias("__mean"),
        F.stddev_samp("__v").alias("__sd"),
    )
    lo = F.col("__q1") - 1.5 * (F.col("__q3") - F.col("__q1"))
    hi = F.col("__q3") + 1.5 * (F.col("__q3") - F.col("__q1"))
    joined = ev.join(F.broadcast(stats), ["event_type"])
    out_fence = (F.col("__v") < lo) | (F.col("__v") > hi)
    z3 = F.abs(F.col("__v") - F.col("__mean")) > 3 * F.col("__sd")
    return (
        joined.groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.round(F.first("__q1"), 6).alias("q1"),
            F.round(F.first("__q3"), 6).alias("q3"),
            F.round(F.first("__q3") - F.first("__q1"), 6).alias("iqr"),
            F.round(F.first(lo), 6).alias("lo_fence"),
            F.round(F.first(hi), 6).alias("hi_fence"),
            F.sum(out_fence.cast("long")).alias("n_outliers"),
            F.round(
                F.sum(out_fence.cast("long")) / F.first("n"), 6
            ).alias("outlier_frac"),
            F.sum(F.coalesce(z3.cast("long"), F.lit(0))).alias("n_z3"),
        )
        .orderBy("event_type")
    )


def iqr_outlier_profile_sql(table: str = "events") -> str:
    """DuckDB twin of :func:`iqr_outlier_profile` — ``quantile_cont``
    matches Spark's interpolated ``percentile`` exactly; fences
    compared unrounded."""
    return f"""
WITH ev AS (
  SELECT event_type, value AS __v FROM {table}
  WHERE value IS NOT NULL AND isfinite(value)
), stats AS (
  SELECT event_type, count(*) AS n,
         quantile_cont(__v, 0.25) AS __q1,
         quantile_cont(__v, 0.75) AS __q3,
         avg(__v) AS __mean, stddev_samp(__v) AS __sd
  FROM ev GROUP BY event_type
), j AS (
  SELECT ev.*, stats.n, stats.__q1, stats.__q3, stats.__mean, stats.__sd,
         stats.__q1 - 1.5 * (stats.__q3 - stats.__q1) AS __lo,
         stats.__q3 + 1.5 * (stats.__q3 - stats.__q1) AS __hi
  FROM ev JOIN stats USING (event_type)
)
SELECT event_type, any_value(n) AS n,
       round(any_value(__q1), 6) AS q1,
       round(any_value(__q3), 6) AS q3,
       round(any_value(__q3) - any_value(__q1), 6) AS iqr,
       round(any_value(__lo), 6) AS lo_fence,
       round(any_value(__hi), 6) AS hi_fence,
       CAST(sum(CAST(__v < __lo OR __v > __hi AS BIGINT)) AS BIGINT)
         AS n_outliers,
       round(sum(CAST(__v < __lo OR __v > __hi AS BIGINT)) * 1.0
             / any_value(n), 6) AS outlier_frac,
       CAST(sum(COALESCE(CAST(abs(__v - __mean) > 3 * __sd AS BIGINT),
                          0)) AS BIGINT) AS n_z3
FROM j GROUP BY event_type ORDER BY event_type
"""


def equidepth_histogram(events: DataFrame) -> DataFrame:
    """Per-``event_type`` EQUI-DEPTH histogram of ``value`` →
    ``(event_type, bucket, lo, hi, n)``:
    bucket edges at the ``i/HIST_BUCKETS`` interpolated quantiles, so each
    bucket holds ~equal mass — the binning that stays readable on
    heavy-tailed measures where the fixed-width histogram dumps 99%
    of rows into one bar.

    Bucket assignment is the ORDER-FREE comparison sum
    ``1 + Σᵢ (v > edgeᵢ)`` — no interval containment tests, so
    duplicate edges (a value owning more than 1/HIST_BUCKETS of the mass)
    degrade deterministically to an empty bucket in BOTH engines
    instead of an engine-specific tie split.  ``lo``/``hi`` report
    the bucket's quantile edges (min/max of the key's finite values
    for the outer buckets).  NULL/non-finite values drop up front
    (the iqr_outlier_profile contract).

    Plan shape: one partial-agg pass computes all edges per key
    (percentile is a single aggregate evaluating the full list), the
    |keys|-row stats relation broadcasts back, and the bucket count
    is a second partial agg — two shuffles total, none keyed on the
    value.
    """
    buckets = HIST_BUCKETS
    v = F.col("value")
    finite = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    ev = events.where(finite).select("event_type", v.alias("__v"))
    qs = [i / buckets for i in range(1, buckets)]
    stats = ev.groupBy("event_type").agg(
        F.min("__v").alias("__e0"),
        *[
            F.percentile("__v", F.lit(q)).alias(f"__e{i + 1}")
            for i, q in enumerate(qs)
        ],
        F.max("__v").alias(f"__e{buckets}"),
    )
    joined = ev.join(F.broadcast(stats), ["event_type"])
    bucket = F.lit(1)
    for i in range(1, buckets):
        bucket = bucket + (F.col("__v") > F.col(f"__e{i}")).cast("int")
    lo = F.when(F.col("bucket") == 1, F.col("__e0"))
    hi = F.when(F.col("bucket") == 1, F.col("__e1"))
    for i in range(2, buckets + 1):
        lo = lo.when(F.col("bucket") == i, F.col(f"__e{i - 1}"))
        hi = hi.when(F.col("bucket") == i, F.col(f"__e{i}"))
    return (
        joined.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.round(F.first(lo), 6).alias("lo"),
            F.round(F.first(hi), 6).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type", "bucket")
    )


def equidepth_histogram_sql() -> str:
    """DuckDB twin of :func:`equidepth_histogram` — same quantile
    edges, same comparison-sum bucket rule."""
    edges = ",\n         ".join(
        f"quantile_cont(__v, {i / HIST_BUCKETS:.17g}) AS __e{i}"
        for i in range(1, HIST_BUCKETS)
    )
    bucket_expr = " + ".join(
        f"CAST(__v > __e{i} AS INT)" for i in range(1, HIST_BUCKETS)
    )
    lo_arms = " ".join(
        f"WHEN bucket = {i} THEN __e{i - 1}" for i in range(1, HIST_BUCKETS + 1)
    )
    hi_arms = " ".join(
        f"WHEN bucket = {i} THEN __e{i}" for i in range(1, HIST_BUCKETS + 1)
    )
    return f"""
WITH ev AS (
  SELECT event_type, value AS __v FROM events
  WHERE value IS NOT NULL AND isfinite(value)
), stats AS (
  SELECT event_type, min(__v) AS __e0,
         {edges},
         max(__v) AS __e{HIST_BUCKETS}
  FROM ev GROUP BY event_type
), j AS (
  SELECT ev.*, stats.* EXCLUDE (event_type),
         1 + {bucket_expr} AS bucket
  FROM ev JOIN stats USING (event_type)
)
SELECT event_type, CAST(bucket AS INT) AS bucket,
       round(any_value(CASE {lo_arms} END), 6) AS lo,
       round(any_value(CASE {hi_arms} END), 6) AS hi,
       count(*) AS n
FROM j GROUP BY event_type, bucket ORDER BY event_type, bucket
"""


def changepoint_profile(events: DataFrame) -> DataFrame:
    """Per-``event_type`` CUSUM mean-shift changepoint → ``(event_type, n_buckets,
    cp_ts, max_abs_cusum, mean_before, mean_after, shift)`` — the
    drift question a monitoring pipeline asks of every metric: WHEN
    did this series' level change, and by how much.

    Method (classic offline CUSUM, Page 1954): bucket the series to
    hourly granularity (per-hour SUM of ``value``), compute
    the running cumulative sum of deviations from the key's overall
    per-bucket mean, and take the bucket with the maximum |CUSUM| as
    the changepoint; ``mean_before``/``mean_after`` are the per-bucket
    means up to and after it, ``shift`` their difference.  A series
    with no shift has its max |CUSUM| near zero — callers threshold on
    ``max_abs_cusum`` (or on ``shift``), which this profile reports
    rather than deciding.

    Determinism: the argmax is taken on the 6-dp-ROUNDED |CUSUM| with
    ties broken toward the LATEST bucket via one ``max(struct)``
    partial aggregate — a constant series (all rounded CUSUMs 0.0)
    therefore picks its last bucket in both engines instead of an
    engine-specific tie split.  A changepoint at the final bucket has
    no "after" rows: ``mean_after``/``shift`` are NULL, never 0.

    Plan shape (the 100-TB story): the raw scan collapses to per-key
    CALENDAR-BOUNDED buckets in one partial agg (a year ≈ 8.8k hours),
    so the ordered CUSUM window runs over the bounded spine — never
    over raw events (the gapfill/moving-average argument); the argmax
    and the before/after means are two more partial aggs over the
    same spine.  NULL/non-finite values and NULL timestamps drop up
    front (the iqr_outlier_profile contract).
    """
    v = F.col("value")
    ts = F.col("ts")
    finite = (
        v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != F.lit(float("inf")))
        & ts.isNotNull()
    )
    hourly = (
        events.where(finite)
        .groupBy("event_type", F.date_trunc("hour", ts).alias("__bts"))
        .agg(F.sum(v).alias("__x"))
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("__bts")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cur = hourly.select(
        "event_type",
        "__bts",
        "__x",
        (
            F.sum("__x").over(w_run)
            - F.row_number().over(w_ord) * F.avg("__x").over(w_all)
        ).alias("__cusum"),
    )
    cp = cur.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max(
            F.struct(
                F.round(F.abs("__cusum"), 6).alias("a"),
                F.col("__bts").alias("t"),
            )
        ).alias("__cp"),
    )
    joined = hourly.join(F.broadcast(cp), ["event_type"])
    before = F.col("__bts") <= F.col("__cp.t")
    return (
        joined.groupBy("event_type")
        .agg(
            F.first("n_buckets").alias("n_buckets"),
            F.first(F.col("__cp.t")).alias("cp_ts"),
            F.round(F.first(F.col("__cp.a")), 6).alias("max_abs_cusum"),
            F.round(
                F.sum(F.when(before, F.col("__x")))
                / F.count(F.when(before, F.lit(1))),
                6,
            ).alias("mean_before"),
            F.round(
                F.sum(F.when(~before, F.col("__x")))
                / F.count(F.when(~before, F.lit(1))),
                6,
            ).alias("mean_after"),
            F.round(
                F.sum(F.when(~before, F.col("__x")))
                / F.count(F.when(~before, F.lit(1)))
                - F.sum(F.when(before, F.col("__x")))
                / F.count(F.when(before, F.lit(1))),
                6,
            ).alias("shift"),
        )
        .orderBy("event_type")
    )


def changepoint_profile_sql() -> str:
    """DuckDB twin of :func:`changepoint_profile` — same bucketing,
    same running-sum-minus-k·mean CUSUM, same rounded argmax with the
    latest-bucket tie-break."""
    return """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS __bts,
         sum(value) AS __x
  FROM events
  WHERE value IS NOT NULL AND isfinite(value)
        AND ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
), cur AS (
  SELECT event_type, __bts, __x,
         sum(__x) OVER (PARTITION BY event_type ORDER BY __bts
                        ROWS UNBOUNDED PRECEDING)
         - row_number() OVER (PARTITION BY event_type ORDER BY __bts)
           * avg(__x) OVER (PARTITION BY event_type) AS __cusum
  FROM hourly
), cp AS (
  SELECT event_type, __bts AS cp_t, round(abs(__cusum), 6) AS cp_a,
         count(*) OVER (PARTITION BY event_type) AS n_buckets
  FROM cur
  QUALIFY row_number() OVER (PARTITION BY event_type
            ORDER BY round(abs(__cusum), 6) DESC, __bts DESC) = 1
)
SELECT event_type, cp.n_buckets, cp.cp_t AS cp_ts,
       round(cp.cp_a, 6) AS max_abs_cusum,
       round(sum(CASE WHEN __bts <= cp_t THEN __x END)
             / count(CASE WHEN __bts <= cp_t THEN 1 END), 6)
         AS mean_before,
       round(sum(CASE WHEN __bts > cp_t THEN __x END)
             / count(CASE WHEN __bts > cp_t THEN 1 END), 6)
         AS mean_after,
       round(sum(CASE WHEN __bts > cp_t THEN __x END)
             / count(CASE WHEN __bts > cp_t THEN 1 END)
             - sum(CASE WHEN __bts <= cp_t THEN __x END)
             / count(CASE WHEN __bts <= cp_t THEN 1 END), 6) AS shift
FROM hourly JOIN cp USING (event_type)
GROUP BY event_type, cp.n_buckets, cp.cp_t, cp.cp_a
ORDER BY event_type
"""
