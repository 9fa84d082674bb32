"""The canonical ingest→join→clean→derive pipeline (SURVEY.md §3, §7.5).

Two materializations of the same chain:

- ``yelp_master_table`` — the reference's own flow on Yelp-shaped
  inputs (scripts/glue_job.py:20-115 + scripts/etl.py:96-109, the
  "canon" union of intended behaviors per SURVEY.md §7 risk register).
- ``synthetic_master_table`` — the identical operator chain on the
  driver's star schema (FIXTURES.md role mapping: orders⨝customer ≙
  review⨝user, lineitem⨝part ≙ review⨝business, region decode ≙
  state-name decode).

Scale notes: broadcast hints are size-gated — only fixed-size dims
(nation: 25 rows at every SF) are hinted; scale-growing dims
(customer/part/user) are left to AQE's runtime broadcast decision.
Dedup is key-scoped; the final relation keeps ``year``/``month`` so a
partitioned write gets partition pruning downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.casemap import (
    US_STATE_NAMES,
    bucketize,
    decode_map,
    first_match_category,
    sentiment,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.functions.dateparts import (
    day_name,
    to_date_col,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import (
    dedup,
    drop_nulls,
    equi_join,
    rename_columns,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

#: Synthetic analog of the super-category keyword map: first-match-wins
#: substring mapper over part.p_type (role of business.categories).
PART_SUPER_CATEGORIES: dict[str, tuple[str, ...]] = {
    "Budget": ("ECONOMY", "PROMO"),
    "Bulk": ("LARGE", "MEDIUM"),
    "Compact": ("SMALL", "MINI"),
    "Standard": ("STANDARD",),
}

#: Region decode (role of the 27-state decode, scripts/glue_job.py:85-115).
REGION_NAMES: dict[str, str] = {
    "0": "Africa",
    "1": "America",
    "2": "Asia",
    "3": "Europe",
    "4": "Middle East",
}


def yelp_master_table(
    business: DataFrame, review: DataFrame, user: DataFrame
) -> DataFrame:
    """Reference master-table chain, Spark-first.

    Mirrors scripts/glue_job.py:25-47 (renames → two inner joins →
    projection → dropDuplicates) + scripts/etl.py:96-109 (sentiment,
    to_date) + scripts/glue_job.py:85-115 (state decode), with the
    engine's fixes: broadcast dims, na.drop before (not after) derive.
    """
    b = rename_columns(
        business,
        {"name": "b_name", "stars": "b_stars", "review_count": "b_review_count"},
    )
    r = rename_columns(
        review,
        {"cool": "r_cool", "useful": "r_useful", "funny": "r_funny", "date": "r_date"},
    )
    # review ⨝ user on user_id (scripts/etl.py:46), then ⨝ business on
    # business_id (scripts/etl.py:48).  No unconditional broadcast
    # hints: user (2M rows) and business (114K rows) grow with the
    # dataset — at 100 TB a forced broadcast is a driver OOM.  AQE
    # converts sort-merge→broadcast at runtime when post-scan stats
    # fit under spark.sql.autoBroadcastJoinThreshold.
    joined = equi_join(r, user, on="user_id")
    joined = equi_join(joined, b, on="business_id")

    # columns_to_keep (scripts/etl.py:51): bare cool/funny/useful are
    # the USER's lifetime vote totals — the review's per-review votes
    # were renamed to r_* above and dropped here, exactly as the
    # reference does.
    kept = joined.select(
        "business_id",
        "user_id",
        "name",
        "cool",
        "review_id",
        "funny",
        "stars",
        "useful",
        "city",
        "review_count",
        "fans",
        "b_name",
        "state",
        "categories",
        "r_date",
    )
    cleaned = drop_nulls(dedup(kept))
    return (
        cleaned.withColumn("super_category", first_match_category("categories"))
        .withColumn("sentiment", sentiment())
        .withColumn("only_date", to_date_col("r_date"))
        .withColumn("state", decode_map("state", US_STATE_NAMES))
        .drop("r_date", "categories")
    )


def synthetic_master_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same chain over the driver's star schema.

    lineitem (fact / "review") ⨝ orders on l_orderkey ⨝ customer on
    o_custkey ⨝ part on l_partkey ⨝ nation on c_nationkey; derive
    super_category (substring mapper on p_type), status (decode on
    o_orderstatus), price_band (ordered bucketing on o_totalprice),
    region_name (decode on n_regionkey), only_date/year/month.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")

    # Full-row dedup (parity with reference scripts/etl.py:56), pushed
    # BELOW the dim joins: every dim key is unique (orders/customer/
    # part/nation are 1:1 on their PKs), so DISTINCT over the joined
    # 16-column relation ≡ DISTINCT over the fact's kept columns before
    # joining.  At scale this shuffles 6 narrow fact columns instead of
    # the whole wide row — the single biggest shuffle in the pipeline.
    fact = dedup(
        lineitem.select(
            "l_orderkey",
            "l_partkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
    )

    # Broadcast hints are SIZE-GATED: nation (25 rows at every scale
    # factor) is always broadcast; customer and part grow linearly
    # with the scale factor, so they get NO hint — AQE converts the
    # sort-merge to a broadcast at runtime iff the post-scan size fits
    # under spark.sql.autoBroadcastJoinThreshold, and falls back to a
    # shuffle join at 100 TB where a forced broadcast would OOM.
    joined = equi_join(
        fact.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on="o_orderkey",
    )
    joined = equi_join(
        joined.withColumnRenamed("o_custkey", "c_custkey"),
        customer,
        on="c_custkey",
    )
    joined = equi_join(
        joined.withColumnRenamed("l_partkey", "p_partkey"),
        part,
        on="p_partkey",
    )
    joined = equi_join(
        joined.withColumnRenamed("c_nationkey", "n_nationkey"),
        nation,
        on="n_nationkey",
        broadcast_right=True,
    )

    kept = joined.select(
        "o_orderkey",
        "c_custkey",
        "p_partkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "c_name",
        "c_mktsegment",
        "p_name",
        "p_type",
        "n_name",
        "n_regionkey",
    )
    cleaned = drop_nulls(kept)
    return (
        cleaned.withColumn(
            "super_category", first_match_category("p_type", PART_SUPER_CATEGORIES)
        )
        .withColumn(
            "status",
            decode_map(
                F.col("o_orderstatus"),
                {"F": "fulfilled", "O": "open", "P": "pending"},
            ),
        )
        .withColumn(
            "price_band",
            bucketize(
                "o_totalprice", [(50_000.0, "low"), (150_000.0, "mid")]
            ),
        )
        .withColumn(
            "region_name",
            decode_map(F.col("n_regionkey").cast("string"), REGION_NAMES),
        )
        .withColumn("only_date", to_date_col("o_orderdate"))
        .withColumn("o_year", F.year("o_orderdate"))
        .withColumn("o_month", F.month("o_orderdate"))
        .withColumn("o_dayname", day_name())
        .drop("p_type", "n_regionkey")
    )
