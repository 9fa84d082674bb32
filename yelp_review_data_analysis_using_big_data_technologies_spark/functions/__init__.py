from yelp_review_data_analysis_using_big_data_technologies_spark.functions.casemap import (
    SUPER_CATEGORIES,
    bucketize,
    decode_map,
    first_match_category,
    sentiment,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.functions.dateparts import (
    day_name,
    to_date_col,
)

__all__ = [
    "SUPER_CATEGORIES",
    "bucketize",
    "day_name",
    "decode_map",
    "first_match_category",
    "sentiment",
    "to_date_col",
]
