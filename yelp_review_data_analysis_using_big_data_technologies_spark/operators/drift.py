"""Distribution-drift monitors — compare a CURRENT data snapshot
against a REFERENCE snapshot (the train/serve skew and
data-freshness checks a 100-TB training pipeline runs before every
refresh).

Three standard statistics, each with an exact DuckDB twin.  Each
has ONE Spark path, split the same way: the reference side is
reduced once to a batch-independent state (bounded driver literals
for PSI and χ²), and a scorer touches only the current side.  The batch entries and the streaming
monitors (streaming/monitor.py) run the same pair, so a monitor
scores every micro-batch exactly as the batch entry scores a
snapshot.

* PSI — Population Stability Index over equi-depth buckets of the
  reference distribution (the credit-scoring / model-monitoring
  standard; PSI > 0.2 is the conventional "major shift" alarm):
  :func:`psi_freeze_reference` → :func:`psi_profile_frozen`.
* KS — the exact two-sample Kolmogorov–Smirnov statistic
  ``D = max_v |F_a(v) − F_b(v)|``, computed distributed with the
  same two-level prefix-sum decomposition as
  ``pack_bins``/``distributed_rank`` (a single global CDF window
  would funnel every distinct value through one task):
  :func:`ks_side_counts` → :func:`ks_2sample`.
* χ² — Pearson χ² over the 2×C side-by-category contingency table
  for categorical drift: :func:`chi2_freeze_reference` →
  :func:`chi2_drift_frozen`.

Scale shapes:

* PSI: one partial-agg pass over the reference computes all bucket
  edges and a second its per-bucket counts, both collected as
  ≤ ``2·buckets + 1`` driver literals; bucket assignment is the
  order-free comparison sum ``1 + Σ(v > edgeᵢ)`` shared with
  ``equidepth_histogram`` (duplicate edges collapse deterministically
  in both engines), and the bucket table is ≤ ``buckets`` rows.
* KS: per-distinct-value counts of each side (a partial agg, smaller
  than the data by the duplication factor) merged by value →
  level-1 running sums inside quantile buckets (parallel over
  buckets) → level-2 offsets over the ≤ ``buckets``-row subtotal
  relation (the only ordered-window-over-everything, bounded like
  pack_bins' level 2) → argmax of the INTEGER cross-product
  difference ``|cum_a·N_b − cum_b·N_a|`` in DECIMAL(38,0)/HUGEINT, so
  the max and its tie-break compare exactly in both engines (no float
  comparisons until the final division).
* χ²: the reference's per-category counts collect as literals
  (bounded by the category domain); the current side is one partial
  agg, and the margins are a 1-row broadcast.

Numeric contract: NULL/NaN/±Inf values drop up front (the
``equidepth_histogram`` contract); PSI shares are additive-smoothed
``(n + 0.5) / (N + 0.5·buckets)`` so empty buckets contribute a
finite term; cross-engine totals sum the ROUNDED per-row terms in
DECIMAL(38,12) (order-independent) before casting back to double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage

_FINITE = lambda c: c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))  # noqa: E731

#: Reference-quantile buckets of the PSI profile (and its twin).
PSI_BUCKETS = 10

#: Value buckets of the KS two-level prefix sum.
KS_BUCKETS = 32

#: Snapshot split of the drift entries and their twins: the events
#: table spans Jan 2024, so the reference window is the first half
#: and the "current" window the second.  NULL timestamps fall out of
#: BOTH sides (no drift signal without a time).
DRIFT_SPLIT = "2024-01-16 00:00:00"
DRIFT_REF_SQL = f"SELECT * FROM events WHERE ts < TIMESTAMP '{DRIFT_SPLIT}'"
DRIFT_CUR_SQL = f"SELECT * FROM events WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}'"


def psi_profile_sql(cur_sql: str) -> str:
    """DuckDB twin of :func:`psi_profile_frozen` over
    :func:`psi_freeze_reference` of ``DRIFT_REF_SQL`` — same
    reference-quantile edges (``quantile_cont`` ≡ Spark
    ``percentile``), same comparison-sum bucket rule, same smoothing,
    same decimal-summed total.  ``cur_sql`` is a subquery projecting
    ``value``."""
    edges = ",\n         ".join(
        f"quantile_cont(__v, {i / PSI_BUCKETS:.17g}) AS __e{i}"
        for i in range(1, PSI_BUCKETS)
    )
    bucket_expr = " + ".join(f"CAST(__v > __e{i} AS INT)" for i in range(1, PSI_BUCKETS))
    lo_arms = " ".join(f"WHEN bucket = {i} THEN __e{i - 1}" for i in range(1, PSI_BUCKETS + 1))
    hi_arms = " ".join(f"WHEN bucket = {i} THEN __e{i}" for i in range(1, PSI_BUCKETS + 1))
    half = PSI_BUCKETS / 2.0
    return f"""
WITH r AS (
  SELECT value AS __v FROM ({DRIFT_REF_SQL})
  WHERE value IS NOT NULL AND isfinite(value)
), c AS (
  SELECT value AS __v FROM ({cur_sql})
  WHERE value IS NOT NULL AND isfinite(value)
), stats AS (
  SELECT min(__v) AS __e0,
         {edges},
         max(__v) AS __e10
  FROM r
), tagged AS (
  SELECT __v, 'r' AS __side FROM r
  UNION ALL SELECT __v, 'c' AS __side FROM c
), j AS (
  SELECT tagged.*, stats.*, 1 + {bucket_expr} AS bucket
  FROM tagged CROSS JOIN stats
), cnt AS (
  SELECT bucket,
         CAST(count(*) FILTER (__side = 'r') AS BIGINT) AS ref_n,
         CAST(count(*) FILTER (__side = 'c') AS BIGINT) AS cur_n
  FROM j
  GROUP BY bucket
), spine AS (
  SELECT CAST(gs.generate_series AS INT) AS bucket, stats.*
  FROM generate_series(1, 10) gs CROSS JOIN stats
), pb AS (
  SELECT spine.bucket,
         round(CASE {lo_arms} END, 6) AS lo,
         round(CASE {hi_arms} END, 6) AS hi,
         COALESCE(cnt.ref_n, 0) AS ref_n,
         COALESCE(cnt.cur_n, 0) AS cur_n
  FROM spine LEFT JOIN cnt USING (bucket)
), tot AS (
  SELECT CAST(sum(ref_n) AS BIGINT) AS __nr,
         CAST(sum(cur_n) AS BIGINT) AS __nc
  FROM pb
), termed AS (
  SELECT pb.*,
         round((ref_n + 0.5) / (__nr + {half}), 6) AS ref_share,
         round((cur_n + 0.5) / (__nc + {half}), 6) AS cur_share,
         round(((ref_n + 0.5) / (__nr + {half}) - (cur_n + 0.5) / (__nc + {half}))
               * ln(((ref_n + 0.5) / (__nr + {half}))
                    / ((cur_n + 0.5) / (__nc + {half}))), 6) AS psi_term
  FROM pb CROSS JOIN tot
)
SELECT CAST(bucket AS INT) AS bucket, lo, hi, ref_n, cur_n,
       ref_share, cur_share, psi_term,
       round(CAST((SELECT sum(CAST(psi_term AS DECIMAL(38,12))) FROM termed)
                  AS DOUBLE), 6) AS psi_total
FROM termed ORDER BY bucket
"""


def psi_freeze_reference(ref: DataFrame) -> dict:
    """Collect the reference's frozen PSI profile — raw quantile
    edges plus per-bucket reference counts — as driver-side literals
    (``PSI_BUCKETS + 1`` doubles + ``PSI_BUCKETS`` longs: the bounded
    codebook/centroid class of collect, NOT a data collect).

    Bucket edges are the ``i/PSI_BUCKETS`` interpolated quantiles of the
    REFERENCE (the PSI convention — the monitor asks "did the new
    data leave the old data's shape", so the binning must not move
    with the new data).  The reference snapshot is scanned here ONCE;
    every score (:func:`psi_profile_frozen`) touches only its current
    side, which is what lets a monitor score each micro-batch at a
    cost ∝ batch.  Raw (unrounded) edge doubles are kept; the scorer
    rounds ``lo``/``hi`` in Spark."""
    buckets = PSI_BUCKETS
    v = F.col("value")
    r = ref.where(_FINITE(v)).select(v.alias("__v"))
    qs = [i / buckets for i in range(1, buckets)]
    stats = r.agg(
        F.min("__v").alias("__e0"),
        *[F.percentile("__v", F.lit(q)).alias(f"__e{i + 1}") for i, q in enumerate(qs)],
        F.max("__v").alias(f"__e{buckets}"),
    )
    edges_row = stats.first()
    edges = [edges_row[f"__e{i}"] for i in range(buckets + 1)]
    bucket = F.lit(1)
    for i in range(1, buckets):
        bucket = bucket + (F.col("__v") > F.lit(edges[i])).cast("int")
    count_rows = (
        r.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ref_n"))
        .collect()
    )
    counts = {int(row["bucket"]): int(row["ref_n"]) for row in count_rows}
    return {
        "edges": edges,
        "ref_counts": [counts.get(b, 0) for b in range(1, buckets + 1)],
    }


def psi_profile_frozen(cur: DataFrame, frozen: dict) -> DataFrame:
    """PSI of ``cur`` against a frozen reference
    (:func:`psi_freeze_reference`) per reference-quantile bucket →
    ``(bucket, lo, hi, ref_n, cur_n, ref_share, cur_share, psi_term,
    psi_total)`` ordered by bucket.  One scan of ``cur``, zero scans
    of the reference.

    Current values outside the reference range land in the outer
    buckets via the comparison-sum rule; ``lo``/``hi`` report the
    reference edges.  The FULL ``1..buckets`` spine is always
    emitted: a bucket empty on both sides still carries its smoothed
    term ``(0.5/(Nr+h) − 0.5/(Nc+h))·ln(...)``, which is nonzero
    whenever ``Nr ≠ Nc`` — omitting it would silently underreport
    ``psi_total`` vs the all-bucket PSI convention.  Shares are
    smoothed ``(n + 0.5)/(N + buckets/2)`` so one-sided and empty
    buckets stay finite.  ``psi_total`` repeats the decimal-summed
    total on every row."""
    buckets = PSI_BUCKETS
    edges = frozen["edges"]
    ref_counts = frozen["ref_counts"]
    v = F.col("value")
    c = cur.where(_FINITE(v)).select(v.alias("__v"))
    bucket = F.lit(1)
    for i in range(1, buckets):
        bucket = bucket + (F.col("__v") > F.lit(edges[i])).cast("int")
    counts = c.withColumn("bucket", bucket).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cur_n")
    )
    lo = F.when(F.col("bucket") == 1, F.lit(edges[0]))
    hi = F.when(F.col("bucket") == 1, F.lit(edges[1]))
    for i in range(2, buckets + 1):
        lo = lo.when(F.col("bucket") == i, F.lit(edges[i - 1]))
        hi = hi.when(F.col("bucket") == i, F.lit(edges[i]))
    ref_n = F.lit(None).cast("bigint")
    for i, n in enumerate(ref_counts, start=1):
        ref_n = F.when(F.col("bucket") == i, F.lit(n).cast("bigint")).otherwise(
            ref_n
        )
    spine = cur.sparkSession.range(1, buckets + 1).select(
        F.col("id").cast("int").alias("bucket")
    )
    # staged: the <= buckets-row relation is referenced by both the
    # totals agg and the final projection — without the persist the
    # current-side scan runs twice
    per_bucket = stage(
        spine.join(counts, on="bucket", how="left").select(
            "bucket",
            F.round(lo, 6).alias("lo"),
            F.round(hi, 6).alias("hi"),
            ref_n.alias("ref_n"),
            F.coalesce("cur_n", F.lit(0).cast("bigint")).alias("cur_n"),
        )
    )
    totals = per_bucket.agg(
        F.sum("ref_n").alias("__nr"), F.sum("cur_n").alias("__nc")
    )
    half = buckets / 2.0
    rs = (F.col("ref_n") + 0.5) / (F.col("__nr") + half)
    cs = (F.col("cur_n") + 0.5) / (F.col("__nc") + half)
    termed = (
        per_bucket.crossJoin(F.broadcast(totals))  # 1-row margin relation
        .withColumn("ref_share", F.round(rs, 6))
        .withColumn("cur_share", F.round(cs, 6))
        .withColumn("psi_term", F.round((rs - cs) * F.log(rs / cs), 6))
    )
    total = termed.agg(
        F.sum(F.col("psi_term").cast("decimal(38,12)")).alias("__t")
    )
    return (
        termed.crossJoin(F.broadcast(total))  # 1-row total relation
        .select(
            "bucket",
            "lo",
            "hi",
            "ref_n",
            "cur_n",
            "ref_share",
            "cur_share",
            "psi_term",
            F.round(F.col("__t").cast("double"), 6).alias("psi_total"),
        )
        .orderBy("bucket")
    )


def ks_side_counts(df: DataFrame, out_col: str = "__an") -> DataFrame:
    """Per-distinct-value counts of one KS side ``(__v, out_col)`` —
    the reference-side state :func:`ks_2sample` takes.  A streaming
    monitor computes it once per run; the batch entry computes it
    for its one snapshot."""
    v = F.col("value")
    return (
        df.where(_FINITE(v))
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias(out_col))
    )


def ks_2sample(a_counts: DataFrame, b: DataFrame) -> DataFrame:
    """Exact two-sample KS statistic between the reference side
    ``a`` — given as its :func:`ks_side_counts` — and the sample
    ``b`` → ONE row ``(ks_stat, ks_at, n_a, n_b)``: the max CDF gap,
    the smallest value attaining it (exact integer tie-break), and
    the two sample sizes.

    ``F_side(v)`` is the empirical CDF evaluated at every observed
    distinct value of EITHER sample; the gap is maximised there (the
    CDFs are step functions jumping only at observed values).  The
    running counts come from the two-level prefix sum (see module
    doc); the argmax compares ``|cum_a·N_b − cum_b·N_a|`` in
    DECIMAL(38,0) so no float rounding can flip the winner.  Empty
    sides yield a NULL statistic rather than a division by zero."""
    buckets = KS_BUCKETS
    # b's counts merge with the reference counts by value: full-outer
    # + coalesce(0) gives the integer rows a union+aggregate of both
    # raw sides would.  Staged: the distinct-value relation feeds the
    # edge sketch, the bucketed CDF, and (via per_bucket) the totals —
    # unstaged, b's scan would run once per consumer
    zero = F.lit(0).cast("bigint")
    counts = stage(
        a_counts.join(
            ks_side_counts(b, out_col="__bn"),
            on="__v",
            how="full",
        ).select(
            "__v",
            F.coalesce(F.col("__an"), zero).alias("__an"),
            F.coalesce(F.col("__bn"), zero).alias("__bn"),
        )
    )
    # Bucket edges only BALANCE the level-1 windows — the statistic is
    # edge-independent (any monotone partition of the value axis gives
    # the same cumulative counts), so the cheap approx_percentile
    # sketch is the right tool: ONE pass, bounded memory.  Exact
    # F.percentile here buffered the whole distinct relation once PER
    # EDGE (31 copies) and measured 40x slower than the naive window
    # at 20M rows — the cure outpriced the disease.
    qs = [i / buckets for i in range(1, buckets)]
    stats = counts.agg(
        F.approx_percentile(
            "__v", F.lit([float(q) for q in qs]), F.lit(1000)
        ).alias("__edges")
    )
    bucket = F.lit(0)
    for i in range(1, buckets):
        bucket = bucket + (F.col("__v") > F.col("__edges")[i - 1]).cast("int")
    bucketed = counts.crossJoin(F.broadcast(stats)).select(
        "__v", "__an", "__bn", bucket.alias("__bkt")
    )
    per_bucket = bucketed.groupBy("__bkt").agg(
        F.sum("__an").alias("__as"), F.sum("__bn").alias("__bs")
    )
    # level-2 exclusive offsets: bounded global window over the
    # <= buckets-row subtotal relation (the pack_bins pattern; the
    # "No Partition Defined" warning is expected and bounded)
    w2 = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "__bkt",
        F.coalesce(F.sum("__as").over(w2), F.lit(0).cast("bigint")).alias("__ao"),
        F.coalesce(F.sum("__bs").over(w2), F.lit(0).cast("bigint")).alias("__bo"),
    )
    totals = per_bucket.agg(
        F.sum("__as").alias("n_a"), F.sum("__bs").alias("n_b")
    )
    w1 = (
        Window.partitionBy("__bkt")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dec = "decimal(19,0)"
    cdf = (
        bucketed.join(F.broadcast(offsets), on="__bkt")
        .withColumn("__ca", F.col("__ao") + F.sum("__an").over(w1))
        .withColumn("__cb", F.col("__bo") + F.sum("__bn").over(w1))
        .crossJoin(F.broadcast(totals))  # 1-row totals relation
        .withColumn(
            "__d",
            F.abs(
                F.col("__ca").cast(dec) * F.col("n_b").cast(dec)
                - F.col("__cb").cast(dec) * F.col("n_a").cast(dec)
            ),
        )
    )
    cdf = stage(cdf)  # referenced by both the max agg and the argmax filter
    dmax = cdf.agg(F.max("__d").alias("__dmax"))
    return (
        cdf.crossJoin(F.broadcast(dmax))  # 1-row max relation
        .where(F.col("__d") == F.col("__dmax"))
        .groupBy("n_a", "n_b")
        .agg(F.min("__v").alias("ks_at"), F.first("__dmax").alias("__dm"))
        .select(
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.round(
                    F.col("__dm").cast("double") / F.col("n_a") / F.col("n_b"), 6
                ),
            ).alias("ks_stat"),
            "ks_at",
            "n_a",
            "n_b",
        )
    )


def ks_2sample_sql(b_sql: str) -> str:
    """DuckDB twin of :func:`ks_2sample` over the raw ``DRIFT_REF_SQL``
    and ``b_sql`` sides — the
    NAIVE single-window CDF formulation the two-level decomposition
    must equal (HUGEINT
    cross-products play the DECIMAL(38,0) role)."""
    return f"""
WITH counts AS (
  SELECT __v, CAST(sum(__a) AS BIGINT) AS __an, CAST(sum(__b) AS BIGINT) AS __bn
  FROM (
    SELECT value AS __v, 1 AS __a, 0 AS __b FROM ({DRIFT_REF_SQL})
    WHERE value IS NOT NULL AND isfinite(value)
    UNION ALL
    SELECT value AS __v, 0 AS __a, 1 AS __b FROM ({b_sql})
    WHERE value IS NOT NULL AND isfinite(value)
  ) GROUP BY __v
), cdf AS (
  SELECT __v,
         sum(__an) OVER (ORDER BY __v) AS __ca,
         sum(__bn) OVER (ORDER BY __v) AS __cb,
         (SELECT CAST(sum(__an) AS BIGINT) FROM counts) AS n_a,
         (SELECT CAST(sum(__bn) AS BIGINT) FROM counts) AS n_b
  FROM counts
), d AS (
  SELECT __v, n_a, n_b, abs(__ca * n_b - __cb * n_a) AS __d FROM cdf
)
SELECT CASE WHEN n_a > 0 AND n_b > 0
       THEN round(CAST((SELECT max(__d) FROM d) AS DOUBLE) / n_a / n_b, 6)
       END AS ks_stat,
       min(__v) AS ks_at, n_a, n_b
FROM d WHERE __d = (SELECT max(__d) FROM d)
GROUP BY n_a, n_b
"""


def chi2_freeze_reference(ref: DataFrame) -> dict:
    """Collect the reference's per-category counts as driver-side
    literals (bounded by the CATEGORY DOMAIN — the codebook class of
    collect), so the reference snapshot is scanned once and every
    score (:func:`chi2_drift_frozen`) touches only its current side.
    NULL categories drop (they are a data-quality finding, not a drift
    signal)."""
    cc = F.col("event_type")
    rows = (
        ref.where(cc.isNotNull())
        .groupBy(cc.alias("category"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ref_n"))
        .collect()
    )
    cat_type = dict(ref.select(cc.alias("category")).dtypes)["category"]
    return {
        "ref_counts": [(r["category"], int(r["ref_n"])) for r in rows],
        "cat_type": cat_type,
    }


def chi2_drift_frozen(cur: DataFrame, frozen: dict) -> DataFrame:
    """Pearson χ² of ``cur`` against a frozen reference
    (:func:`chi2_freeze_reference`) over the 2×C (side × category)
    contingency table → ``(category, ref_n, cur_n, contrib,
    chi2_total, dof)`` ordered by category.

    One scan of ``cur``; the frozen counts re-enter as a literal
    relation, and a full-outer category join builds the contingency
    table (a category seen on one side only gets a zero count on the
    other).  ``contrib`` is the category's two-cell term
    ``Σ_side (o − e)² / e`` with the usual margin-product expectation
    ``e = rowN · sideN / N``; ``chi2_total`` (decimal-summed rounded
    terms) and ``dof = C − 1`` repeat on every row.  NULL categories
    drop; an empty side contributes zero-expectation cells guarded
    to 0."""
    spark = cur.sparkSession
    ref_lit = spark.createDataFrame(
        frozen["ref_counts"],
        f"category {frozen['cat_type']}, ref_n bigint",
    )
    cc = F.col("event_type")
    cur_counts = (
        cur.where(cc.isNotNull())
        .groupBy(cc.alias("category"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cur_n"))
    )
    per_cat = (
        ref_lit.join(cur_counts, on="category", how="full_outer").select(
            "category",
            F.coalesce("ref_n", F.lit(0).cast("bigint")).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0).cast("bigint")).alias("cur_n"),
        )
    )
    margins = per_cat.agg(
        F.sum("ref_n").alias("__mr"),
        F.sum("cur_n").alias("__mc"),
        F.count(F.lit(1)).alias("__ncat"),
    )
    # expectation in DOUBLE from the first multiply: the bigint
    # product rowN·sideN overflows at warehouse cardinalities (and
    # ANSI Spark aborts on it) — both engines compute
    # CAST(rowN AS DOUBLE) · sideN / N in the same IEEE order
    row_n = (F.col("ref_n") + F.col("cur_n")).cast("double")
    n = F.col("__mr") + F.col("__mc")
    e_r = row_n * F.col("__mr") / n
    e_c = row_n * F.col("__mc") / n
    term = lambda o, e: F.when(e > 0, (o - e) * (o - e) / e).otherwise(F.lit(0.0))  # noqa: E731
    termed = stage(
        per_cat.crossJoin(F.broadcast(margins)).withColumn(
            "contrib",
            F.round(term(F.col("ref_n"), e_r) + term(F.col("cur_n"), e_c), 6),
        )
    )
    total = termed.agg(
        F.sum(F.col("contrib").cast("decimal(38,12)")).alias("__t")
    )
    return (
        termed.crossJoin(F.broadcast(total))  # 1-row total relation
        .select(
            "category",
            "ref_n",
            "cur_n",
            "contrib",
            F.round(F.col("__t").cast("double"), 6).alias("chi2_total"),
            (F.col("__ncat") - 1).cast("int").alias("dof"),
        )
        .orderBy("category")
    )


def chi2_drift_sql(cur_sql: str) -> str:
    """DuckDB twin of :func:`chi2_drift_frozen` over
    :func:`chi2_freeze_reference` of ``DRIFT_REF_SQL`` — same margins, same
    zero-expectation guard, same decimal-summed total."""
    return f"""
WITH tagged AS (
  SELECT event_type AS category, 1 AS __r, 0 AS __c FROM ({DRIFT_REF_SQL})
  WHERE event_type IS NOT NULL
  UNION ALL
  SELECT event_type AS category, 0 AS __r, 1 AS __c FROM ({cur_sql})
  WHERE event_type IS NOT NULL
), pc AS (
  SELECT category,
         CAST(sum(__r) AS BIGINT) AS ref_n,
         CAST(sum(__c) AS BIGINT) AS cur_n
  FROM tagged GROUP BY category
), m AS (
  SELECT CAST(sum(ref_n) AS BIGINT) AS __mr,
         CAST(sum(cur_n) AS BIGINT) AS __mc,
         count(*) AS __ncat
  FROM pc
), termed AS (
  SELECT category, ref_n, cur_n, __ncat,
         round(
           CASE WHEN __er > 0 THEN (ref_n - __er) * (ref_n - __er) / __er
                ELSE 0.0 END
           + CASE WHEN __ec > 0 THEN (cur_n - __ec) * (cur_n - __ec) / __ec
                  ELSE 0.0 END,
         6) AS contrib
  FROM (
    SELECT pc.*, __ncat,
           CAST(ref_n + cur_n AS DOUBLE) * __mr / (__mr + __mc) AS __er,
           CAST(ref_n + cur_n AS DOUBLE) * __mc / (__mr + __mc) AS __ec
    FROM pc CROSS JOIN m
  ) pc
)
SELECT category, ref_n, cur_n, contrib,
       round(CAST((SELECT sum(CAST(contrib AS DECIMAL(38,12))) FROM termed)
                  AS DOUBLE), 6) AS chi2_total,
       CAST(__ncat - 1 AS INT) AS dof
FROM termed ORDER BY category
"""
