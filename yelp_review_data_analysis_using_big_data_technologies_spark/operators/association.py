"""Association-rule mining over (entity, item) facts — pairwise
co-occurrence with support / confidence / lift, the market-basket
panel every behavioral store derives (which event types travel
together across users, which product categories co-sell).

Shape: the fact stream collapses to the DISTINCT (entity, item)
relation first (a partial agg — at 100 TB this is the relation
smaller than the data by the repeat factor), item marginals are one
more partial agg, and the pair counts come from a SELF-JOIN of the
distinct relation on the entity key with ``item_a < item_b`` — the
standard a-priori candidate shape.  Entities listing many distinct
items fan out quadratically in that join (a bot touching 10⁴ items
contributes 5·10⁷ pairs), so the same df-cap discipline as the
n-gram posting lists applies: ``max_items_per_key`` drops
pathological entities up front and the dropped count is reported in
the operator's profile companion rather than silently truncated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage


#: Entities holding more distinct items than this are excised from
#: every count of :func:`cooccurrence_lift` (and its twin).
FANOUT_CAP = 1000


def cooccurrence_lift(facts: DataFrame) -> DataFrame:
    """Pairwise association rules →
    ``(item_a, item_b, n_ab, n_a, n_b, support, conf_a_b, conf_b_a,
    lift)`` ordered by (item_a, item_b), one row per unordered pair
    with ``item_a < item_b``.

    ``support = n_ab / n_entities``, ``conf_a_b = n_ab / n_a``
    (P(b|a)), ``lift = n_ab·n / (n_a·n_b)`` — lift > 1 means the pair
    co-occurs more than independence predicts.  All ratios divide
    exact bigint counts in a fixed double order, so both engines
    produce identical bits.  NULL entities/items drop (no identity —
    no basket); entities holding more than ``FANOUT_CAP``
    distinct items are EXCLUDED from every count (marginals, total,
    and pairs stay mutually consistent — a capped entity vanishes
    from the universe rather than skewing lift)."""
    e, i = F.col("user_id"), F.col("event_type")
    pairs_src = facts.where(e.isNotNull() & i.isNotNull()).select(
        e.alias("__e"), i.alias("__i")
    )
    per_entity = pairs_src.groupBy("__e", "__i").agg(F.lit(1).alias("__one"))
    fanout = per_entity.groupBy("__e").agg(F.count(F.lit(1)).alias("__k"))
    # distinct (entity, item) relation, pathological entities excised
    # consistently; staged — three downstream aggregates read it
    u = stage(
        per_entity.join(
            fanout.where(F.col("__k") <= FANOUT_CAP).select("__e"),
            on="__e",
        ).select("__e", "__i")
    )
    totals = u.select("__e").distinct().agg(F.count(F.lit(1)).alias("__n"))
    marginals = u.groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    pair_counts = (
        u.alias("l")
        .join(u.alias("r"), on=(F.col("l.__e") == F.col("r.__e")))
        .where(F.col("l.__i") < F.col("r.__i"))
        .groupBy(F.col("l.__i").alias("item_a"), F.col("r.__i").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ma = marginals.select(F.col("__i").alias("item_a"), F.col("__ni").alias("n_a"))
    mb = marginals.select(F.col("__i").alias("item_b"), F.col("__ni").alias("n_b"))
    nd = F.col("__n").cast("double")
    return (
        pair_counts.join(F.broadcast(ma), on="item_a")
        .join(F.broadcast(mb), on="item_b")
        .crossJoin(F.broadcast(totals))  # 1-row entity-universe count
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.col("n_ab") / nd, 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a").cast("double"), 6).alias(
                "conf_a_b"
            ),
            F.round(F.col("n_ab") / F.col("n_b").cast("double"), 6).alias(
                "conf_b_a"
            ),
            F.round(
                F.col("n_ab") * nd / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


def cooccurrence_lift_sql() -> str:
    """DuckDB twin of :func:`cooccurrence_lift` — same distinct
    relation, same fan-out cap, same fixed division order."""
    return f"""
WITH pe AS (
  SELECT DISTINCT user_id AS __e, event_type AS __i
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), u AS (
  SELECT __e, __i FROM pe
  WHERE __e IN (
    SELECT __e FROM pe GROUP BY __e
    HAVING count(*) <= {FANOUT_CAP}
  )
), tot AS (
  SELECT count(DISTINCT __e) AS __n FROM u
), m AS (
  SELECT __i, CAST(count(*) AS BIGINT) AS __ni FROM u GROUP BY __i
), pc AS (
  SELECT l.__i AS item_a, r.__i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM u l JOIN u r ON l.__e = r.__e AND l.__i < r.__i
  GROUP BY 1, 2
  HAVING count(*) >= 1
)
SELECT item_a, item_b, n_ab, ma.__ni AS n_a, mb.__ni AS n_b,
       round(n_ab / CAST(__n AS DOUBLE), 6) AS support,
       round(n_ab / CAST(ma.__ni AS DOUBLE), 6) AS conf_a_b,
       round(n_ab / CAST(mb.__ni AS DOUBLE), 6) AS conf_b_a,
       round(n_ab * CAST(__n AS DOUBLE) / (CAST(ma.__ni AS DOUBLE) * mb.__ni), 6)
         AS lift
FROM pc
JOIN m ma ON pc.item_a = ma.__i
JOIN m mb ON pc.item_b = mb.__i
CROSS JOIN tot
ORDER BY item_a, item_b
"""
