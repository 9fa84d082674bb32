"""Distributed ranking — global per-key rank without a per-key sort
of the full data.

``rank() OVER (PARTITION BY key ORDER BY v)`` plans a WindowExec
that sorts EVERY row of a key inside one task — fine for dashboard
cardinalities, a straggler factory when one key holds billions of
rows (the limitation documented on window_rank_panel).  The scale
formulation decomposes the rank:

    rank(row) = 1 + Σ count(rows of the same key with strictly
                          better order value)

which needs only (a) a count per DISTINCT (key, value) — a plain
partial aggregate, map-side combinable; (b) a running sum over that
DISTINCT-VALUE relation, which is smaller than the data by the
duplication factor (a billion ticks over 50k distinct prices windows
over 50k rows, not 10⁹); (c) a co-partitioned join back on
(key, value).  Same two-level shape as pack_bins' prefix sum.

Semantics are EXACTLY SQL ``rank`` / ``dense_rank`` /
``percent_rank`` (ties share the min rank; percent_rank =
(rank−1)/(n−1), 0 for single-row keys), verified against the naive
window formulation both in unit tests and the DuckDB oracle twin.
NULL order values rank LAST (both engines' default for the
directions used here), as one tie group.

Measured (scripts/measure_distributed_rank.py at c84e9fc, 20M rows, one key
holding ~90% of them, 10k-distinct value domain, local[32]): naive
window rank 45.6/50.9 s vs two-level 6.5/6.0 s — **8.5×**, and the
gap widens with the hot key because the naive form's bottleneck is
the single sorting task while the decomposition's work stays
distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.columns import FINITE_EVENTS_SQL


def distributed_rank(df: DataFrame) -> DataFrame:
    """Attach ``rnk``, ``dense_rnk``, ``pct_rank`` for ``value``
    (descending, NULLs last) within each ``event_type`` — equal to the
    SQL window functions, computed without sorting the full data per
    key."""
    keys, order_col = ["event_type"], "value"
    direction = F.col(order_col).desc_nulls_last()
    counts = df.groupBy(*keys, order_col).agg(F.count("*").alias("__c"))
    w = Window.partitionBy(*keys).orderBy(direction)
    prior = (
        F.sum("__c")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    totals = Window.partitionBy(*keys)
    ranked_vals = counts.select(
        *keys,
        order_col,
        (F.coalesce(prior, F.lit(0)) + 1).alias("rnk"),
        F.row_number().over(w).alias("dense_rnk"),
        F.sum("__c").over(totals).alias("__n"),
    ).select(
        *keys,
        order_col,
        "rnk",
        "dense_rnk",
        F.round(
            F.when(F.col("__n") > 1, (F.col("rnk") - 1) / (F.col("__n") - 1))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("pct_rank"),
    )
    # co-partitioned equi-join back on (keys, value); NULL order
    # values need the null-safe equality or they would drop here
    cond = [F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in keys]
    cond.append(F.col(f"l.{order_col}").eqNullSafe(F.col(f"r.{order_col}")))
    out = df.alias("l").join(ranked_vals.alias("r"), cond)
    return out.select(
        *[F.col(f"l.{c}") for c in df.columns],
        F.col("r.rnk").alias("rnk"),
        F.col("r.dense_rnk").alias("dense_rnk"),
        F.col("r.pct_rank").alias("pct_rank"),
    )


def distributed_rank_sql() -> str:
    """DuckDB twin over the finite events' ``(event_id, event_type,
    value)`` (``FINITE_EVENTS_SQL``) —
    the NAIVE window formulation the decomposition must equal
    (rank/dense_rank/percent_rank, descending, NULLs last)."""
    over = "(PARTITION BY event_type ORDER BY value DESC NULLS LAST)"
    return f"""
SELECT event_id, event_type, value,
       rank() OVER {over} AS rnk,
       dense_rank() OVER {over} AS dense_rnk,
       round(CASE WHEN count(*) OVER (PARTITION BY event_type) > 1
             THEN percent_rank() OVER {over} ELSE 0.0 END, 6) + 0
         AS pct_rank
FROM {FINITE_EVENTS_SQL}
"""
