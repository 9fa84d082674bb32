"""The dashboard/Athena query library (SURVEY.md §2.9, Q1–Q9).

The reference serves these via Glue catalog → Athena SQL → Power BI
(README.md:39, Dashboard.png); here each is a declarative DataFrame
plan over the star schema — group-aggregates, window shares, rank
argmax, rollup slicers — all JVM-side, no UDFs.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names match the ANSI oracle twins in ``__spark_entry__.py``.
Doubles are rounded at the edge (2 decimals) so results hash-compare
stably against DuckDB despite float summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.dateparts import day_name
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import equi_join, stack_legs
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table


def totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — the dashboard's headline tiles (Total Businesses / Reviews
    / Users ≙ distinct parts / lineitems / distinct customers).

    ``countDistinct`` is exact (two-phase hash agg); at 100 TB swap to
    ``approx_count_distinct`` (HLL, no second shuffle) — tile-level
    accuracy doesn't need exactness.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li = lineitem.agg(
        F.countDistinct("l_partkey").alias("total_parts"),
        F.count(F.lit(1)).alias("total_lineitems"),
    )
    od = orders.agg(F.countDistinct("o_custkey").alias("total_customers"))
    return li.crossJoin(od)


def avg_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 — Average Ratings tile (avg over the fact table)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.round(F.avg("l_quantity"), 2).alias("avg_quantity"),
        F.round(F.avg(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "avg_net_price"
        ),
    )


def share_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — donut chart: count per group + percent-of-total share.

    The share is a window over the aggregated (tiny) relation, not the
    fact table — the expensive agg happens once, the percent-of-total
    is a single-partition window over ~|groups| rows.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    counts = lineitem.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    return counts.select(
        "l_returnflag",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(total), 2).alias("pct"),
    )


def yearly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — reviews vs new businesses per year ≙ orders + distinct
    customers per order-year."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("o_year")
    )


def day_of_week_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 — day-wise activity across categories (Most Active Day)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            day_name().alias("dayname"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def most_active_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5b — the argmax tile: single most active weekday.  Deterministic
    tie-break on the name; TakeOrderedAndProject, no total sort.
    ``asc_nulls_last``: day_name(NULL date) forms a NULL group, and
    Spark's ASC default (nulls first) would pick it over a tied named
    day while the DuckDB twin's default (nulls last) picks the name —
    the cross-engine argmax divergence class from the null-injection
    pass."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(day_name().alias("dayname"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc_nulls_last("dayname"))
        .limit(1)
    )


def engagement_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 — Engagement Score ≙ sum(useful+funny+cool) by category →
    revenue sum by return flag (TPC-H Q1 shape: map-side partial agg,
    one shuffle on the 3-value key)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("engagement"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


def top_nations_by_customers(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """Q7 — Top States by Business Count ≙ top nations by customer
    count.  Nation (25 rows) is broadcast; the agg shuffles only the
    pre-aggregated per-nation partials."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = equi_join(
        customer.withColumnRenamed("c_nationkey", "n_nationkey"),
        nation,
        on="n_nationkey",
        broadcast_right=True,
    )
    return (
        joined.groupBy("n_name")
        .agg(F.countDistinct("c_custkey").alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.asc("n_name"))
        .limit(k)
    )


def most_popular_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 — argmax of grouped counts via the rank-window idiom.
    ``row_number`` keeps exactly ONE row (lexicographically-first
    p_type on a tied max) — swap in ``F.rank()`` if a caller needs
    every tied winner."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = equi_join(
        lineitem.withColumnRenamed("l_partkey", "p_partkey"),
        part,
        on="p_partkey",
        broadcast_right=True,
    )
    counts = joined.groupBy("p_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy().orderBy(F.desc("n"), F.asc("p_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


def rollup_slicers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 — the dashboard's "All" slicer combinations precomputed:
    ROLLUP(returnflag, linestatus) = per-pair, per-flag, grand total."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def cube_slicers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9b — CUBE variant: every slicer combination incl. per-status
    margins the rollup lacks."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


def grouping_sets_slicers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9c — explicit GROUPING SETS: exactly the slicer combinations
    the dashboard needs ((flag,status), (flag), ()) without paying for
    the per-status margin CUBE would also compute.  At scale the
    grouping-set list IS the cost model: one partial-agg pass expands
    each input row once per set, so pruning sets prunes shuffle."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def dashboard_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q2+Q5b panel — the dashboard's scalar tiles (totals, averages,
    most-active-day argmax) as ONE single-row frame.  Unlike composing
    the single-tile functions (which would scan lineitem twice — once
    for totals, once for averages), the panel computes all four
    lineitem metrics in ONE aggregation pass over the fact table; the
    orders side pays one scalar agg plus the grouped argmax.  The tiny
    1-row cross-joins are broadcast no-ops.  One driver-checked row
    verifies all three tile queries."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li = lineitem.agg(
        F.countDistinct("l_partkey").alias("total_parts"),
        F.count(F.lit(1)).alias("total_lineitems"),
        F.round(F.avg("l_quantity"), 2).alias("avg_quantity"),
        F.round(
            F.avg(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("avg_net_price"),
    )
    od = orders.agg(F.countDistinct("o_custkey").alias("total_customers"))
    return (
        li.crossJoin(od)
        .crossJoin(most_active_day(spark, sf_dir))
        .select(
            "total_parts",
            "total_lineitems",
            "total_customers",
            "avg_quantity",
            "avg_net_price",
            "dayname",
            "n_orders",
        )
    )


def slicer_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 panel — ROLLUP, CUBE, and explicit GROUPING SETS over the
    same (flag, status) slicers, tagged and stacked into one relation.
    All three compile to a single expand+partial-agg pass each; the
    panel verifies the three grouping-analytics paths in one
    driver-checked result."""
    lineitem = load_table(spark, sf_dir, "lineitem")

    def aggs() -> list:
        return [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        ]

    return stack_legs(
        {
            "rollup": lineitem.rollup("l_returnflag", "l_linestatus").agg(*aggs()),
            "cube": lineitem.cube("l_returnflag", "l_linestatus").agg(*aggs()),
            "grouping_sets": lineitem.groupingSets(
                [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
                "l_returnflag",
                "l_linestatus",
            ).agg(*aggs()),
        },
        ["l_returnflag", "l_linestatus", "n", "sum_price"],
    )


def approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twins of the exact dashboard aggregates: HyperLogLog++
    ``approx_count_distinct`` and quantile-sketch ``percentile_approx``
    — sketch-mergeable one-pass versions of the two aggregations whose
    exact forms shuffle every distinct value / sort every group at
    100 TB.  Not oracle-hashable (sketch estimates differ per engine);
    relative-error bounds are unit-tested instead."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.percentile_approx("o_totalprice", 0.5, 10_000).alias("approx_median"),
    )


def sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-AGGREGATABLE distinct counts via DataSketches HLL (Spark
    3.5+ ``hll_sketch_agg`` / ``hll_union_agg``): per-(year, priority)
    customer sketches built in ONE pass, then UNIONED upward to
    per-year totals — the materialized-rollup capability plain
    ``count(distinct)`` can't give (distinct counts don't add; sketch
    bytes do).  At 100 TB the fine-grained sketch table is the
    persisted artifact and every coarser distinct is a cheap
    sketch-union over it, not a rescan of raw data.

    Rows-only for the driver (sketch estimates are engine-specific);
    the unit test pins estimate-vs-exact relative error and the
    union-vs-direct consistency."""
    orders = load_table(spark, sf_dir, "orders")
    fine = orders.groupBy(
        F.year("o_orderdate").alias("o_year"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.hll_sketch_agg("o_custkey").alias("__sk"))
    return (
        fine.groupBy("o_year")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias(
                "approx_customers"
            ),
            F.count(F.lit(1)).alias("n_groups"),
        )
        .orderBy("o_year")
    )


def pct_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface: rank / lag / running total per group —
    the year-over-year trend panel with deltas."""
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").alias("o_year"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_year = Window.partitionBy("priority").orderBy("o_year")
    return yearly.select(
        "o_year",
        "priority",
        "n",
        F.lag("n", 1).over(w_year).alias("prev_n"),
        F.sum("n").over(
            w_year.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("running_n"),
        F.row_number().over(
            Window.partitionBy("o_year").orderBy(F.desc("n"), F.asc("priority"))
        ).alias("rank_in_year"),
    )


def _ntile_distributed(rel: DataFrame, order_cols, out_name: str) -> DataFrame:
    """Exact ``ntile(5)`` of each ``o_custkey`` over a GLOBAL unique ordering without the
    global single-task window sort (the r11 lint finding on the r9
    RFM shape): range-repartition on the ordering, per-range-partition
    ``row_number``, level-2 exclusive offsets over the ≤
    shuffle-partitions subtotal rows (the pack_bins/ks two-level
    pattern — the only global window left is over the bounded
    subtotal relation), then Spark's exact ntile bucket sizes
    reproduced arithmetically from (rank, n): the first ``n % 5``
    buckets hold ``ceil(n/5)`` rows, the rest ``floor(n/5)``.

    Rank is boundary-independent (offset + local row number is the
    same total order wherever the range partitioner cuts), so the
    result is deterministic across partition layouts — pinned by the
    conf-invariance gate."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage

    r = rel.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("__pid").orderBy(*order_cols)
    # Staged (r11 advice): loc feeds BOTH the offsets aggregate and
    # the final join, and offset + local-rank is only a total order
    # if both consumers see the SAME range-partition boundaries.
    # Persisting pins one materialized partitioning instead of
    # relying on exchange reuse / deterministic RangePartitioner
    # re-sampling across recomputations.
    loc = stage(r.withColumn("__lr", F.row_number().over(wloc)))
    sub = loc.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    w2 = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    off = sub.select(
        "__pid",
        F.coalesce(F.sum("__c").over(w2), F.lit(0).cast("bigint")).alias(
            "__off"
        ),
    )
    tot = sub.agg(F.sum("__c").alias("__n"))
    rk = F.col("__off") + F.col("__lr")
    n = F.col("__n")
    q = F.floor(n / 5)  # small-bucket size
    rr = n % 5  # number of big (q+1) buckets
    big_span = rr * (q + 1)
    bucket = F.when(
        rk <= big_span, F.floor((rk - 1) / (q + 1)) + 1
    ).otherwise(
        # greatest() guards the n < 5 case (q = 0): that branch is
        # unreachable there (every rank <= big_span) but must not
        # divide by zero under ANSI evaluation
        rr + F.floor((rk - big_span - 1) / F.greatest(q, F.lit(1))) + 1
    )
    # the key comes back under a score-specific alias so the caller
    # can join NULL-SAFELY (a NULL group key is a legitimate aggregate
    # row — an equi-join would silently drop it) without ambiguous
    # same-lineage column references
    return (
        loc.join(F.broadcast(off), on="__pid")
        .crossJoin(F.broadcast(tot))  # 1-row total relation
        .select(
            F.col("o_custkey").alias(f"__k_{out_name}"),
            bucket.cast("int").alias(out_name),
        )
    )


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (r9): the classic marketing-analytics
    quintile scoring — per customer recency (last order date),
    frequency (order count), monetary (total spend), each cut into
    quintiles with ``ntile(5)`` semantics, concatenated into the
    familiar "555 = champion" segment code.

    ntile is within-tie-order dependent, so every ordering carries
    the ``c_custkey`` tiebreak (the window_rank_panel discipline).
    Plan (r11): one orders aggregate (shuffle on custkey, map-side
    combine), then three DISTRIBUTED ntile passes
    (:func:`_ntile_distributed`) — the r9 shape ran three global
    ntile windows that funneled the whole customer relation through
    one task each; at warehouse customer cardinality that is the
    scale cliff the plan lint now rejects.  Results are identical
    (same total orders, Spark's exact ntile bucket sizes), pinned
    against the unchanged naive-window DuckDB twin."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage

    per_cust = stage(per_cust)  # feeds three ntile passes + the join
    scores = [
        _ntile_distributed(
            per_cust,
            [F.desc("last_order"), F.asc("o_custkey")],
            "r_score",
        ),
        _ntile_distributed(
            per_cust,
            [F.desc("frequency"), F.asc("o_custkey")],
            "f_score",
        ),
        _ntile_distributed(
            per_cust,
            [F.desc("monetary"), F.asc("o_custkey")],
            "m_score",
        ),
    ]
    # Fold the three join-backs into ONE (r11 verdict #3): merge the
    # narrow (key, score) relations first — each is exactly one row
    # per custkey by construction (ntile over per_cust) — then a
    # single join back to the wide per_cust relation.  The r11 shape
    # shuffled customer-width rows through three joins; this shuffles
    # per_cust once and the 2-column score relations among themselves.
    merged = scores[0]
    for s, nm in zip(scores[1:], ("f_score", "m_score")):
        merged = merged.join(
            s, on=F.col("__k_r_score").eqNullSafe(F.col(f"__k_{nm}"))
        ).drop(f"__k_{nm}")
    out = per_cust.join(
        merged, on=F.col("o_custkey").eqNullSafe(F.col("__k_r_score"))
    ).drop("__k_r_score")
    return (
        out.select(
            F.col("o_custkey").alias("custkey"),
            "last_order",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
        )
        .withColumn(
            "segment",
            F.concat_ws("", "r_score", "f_score", "m_score"),
        )
        .orderBy("custkey")
    )


RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT custkey, last_order, frequency, monetary,
    ntile(5) OVER (ORDER BY last_order DESC, custkey) AS r_score,
    ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
    ntile(5) OVER (ORDER BY monetary DESC, custkey) AS m_score
  FROM per_cust
)
SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
          || CAST(m_score AS VARCHAR) AS segment
FROM scored ORDER BY custkey
"""
