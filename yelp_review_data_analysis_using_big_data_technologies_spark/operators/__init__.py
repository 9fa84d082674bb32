from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import equidepth_histogram, iqr_outlier_profile
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.asof import asof_join
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.bloom import bloom_pruned_join, build_bloom
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.fuzzy import fuzzy_pairs_sorted_neighborhood
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.graph import pagerank
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.interpolate import interpolate_join
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.range_join import range_join
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.reconcile import diff_summary, table_diff
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import (
    dedup,
    drop_nulls,
    duplicate_rows,
    equi_join,
    rename_columns,
)

__all__ = [
    "asof_join",
    "bloom_pruned_join",
    "build_bloom",
    "diff_summary",
    "equidepth_histogram",
    "fuzzy_pairs_sorted_neighborhood",
    "interpolate_join",
    "iqr_outlier_profile",
    "pagerank",
    "range_join",
    "table_diff",
    "dedup",
    "drop_nulls",
    "duplicate_rows",
    "equi_join",
    "rename_columns",
]
