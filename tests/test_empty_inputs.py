"""Empty-input contracts (round 7).

The fixtures and the driver gate never feed an operator an EMPTY
relation, but real pipelines do constantly: a filter that matched
nothing, a delta batch with no new docs, a stratum that sampled to
zero.  Each core operator must return an empty frame with the normal
schema — or raise a CLEAR, documented error — never crash with an
obscure internal exception or (worst) silently return wrong rows.

Every input here is ``load_table(...).limit(0)``: the real schema,
zero rows.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import sampling as lsmp
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.clusters import connected_components
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.decontam import contamination_overlap
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
    exact_dedup,
    near_dup_pairs_banded,
    simhash_near_dup_pairs,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.packing import pack_bins
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import (
    dedup_keyed_deterministic,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.skew import (
    salted_join,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def empty_docs(spark, smoke_dir):
    return load_table(spark, smoke_dir, "documents").limit(0)


@pytest.fixture(scope="module")
def empty_events(spark, smoke_dir):
    return load_table(spark, smoke_dir, "events").limit(0)


def _expect_empty(df):
    try:
        assert df.count() == 0
    finally:
        release_staging()


def test_exact_dedup_empty(empty_docs):
    _expect_empty(exact_dedup(empty_docs))


def test_minhash_banded_empty(empty_docs):
    _expect_empty(near_dup_pairs_banded(empty_docs))


def test_simhash_pairs_empty(empty_docs):
    _expect_empty(simhash_near_dup_pairs(empty_docs))


def test_pack_bins_empty(empty_docs):
    _expect_empty(pack_bins(empty_docs))


def test_split_and_samples_empty(empty_docs):
    _expect_empty(lsmp.split_assign(empty_docs))
    _expect_empty(lsmp.stratified_sample(empty_docs))
    _expect_empty(lsmp.weighted_take(empty_docs))
    _expect_empty(lsmp.take_per_stratum(empty_docs))


def test_mixture_report_empty(empty_docs):
    # zero targeted rows → zero report rows (the rates frame groups an
    # empty relation), not a crash in the feasible-budget division
    _expect_empty(lsmp.mixture_report(empty_docs, "n_chars"))


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a string, id_b string")
    _expect_empty(connected_components(pairs))


def test_contamination_empty_both_sides(empty_docs):
    _expect_empty(contamination_overlap(empty_docs, empty_docs))


def test_contamination_empty_benchmark_flags_nothing(spark, smoke_dir, empty_docs):
    docs = load_table(spark, smoke_dir, "documents")
    _expect_empty(contamination_overlap(docs, empty_docs))


def test_dedup_keyed_empty(empty_events):
    _expect_empty(
        dedup_keyed_deterministic(
            empty_events.select("user_id", "event_type", "event_id"),
            keys=["user_id"],
            tiebreak=["event_id"],
        )
    )


def test_salted_join_empty_left(spark, smoke_dir, empty_events):
    right = load_table(spark, smoke_dir, "events").select(
        F.col("event_type").alias("c_custkey")
    ).distinct()
    _expect_empty(
        salted_join(
            empty_events.select("event_id", F.col("event_type").alias("c_custkey")),
            right,
        )
    )


def test_vector_family_empty(spark, smoke_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lv

    emb = load_table(spark, smoke_dir, "embeddings")
    empty = emb.limit(0)
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # bruteforce / cosine pairs: empty in, empty out
    _expect_empty(lv.top_k_bruteforce(empty, queries))
    _expect_empty(lv.cosine_near_dup_pairs(empty))
    # IVF family: seeding from nothing must fail LOUDLY, not with the
    # VOID-typed array() analyzer error the raw path produced
    with pytest.raises(ValueError, match="no non-NULL vectors"):
        lv.top_k_ann_ivf(empty, queries)
    release_staging()


def test_normalize_text_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.normalize import normalize_text

    out = normalize_text(empty_docs)
    assert "changed" in out.columns
    _expect_empty(out)


def test_band_bucket_profile_empty(empty_docs):
    """Profile over an empty corpus: one row of zero/NULL aggregates
    (count 0, max/sums NULL) — the pre-flight must not crash before
    the pipeline even has data."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import band_bucket_profile

    try:
        row = band_bucket_profile(empty_docs).collect()[0]
        assert row["n_buckets"] == 0
        assert row["max_bucket_size"] is None
    finally:
        release_staging()


def test_prefix_contained_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import prefix_contained

    _expect_empty(prefix_contained(empty_docs))


def test_ewma_empty(empty_events):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.decay import ewma_by_key

    _expect_empty(ewma_by_key(empty_events))


def test_bigram_lm_nll_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import bigram_lm_nll

    _expect_empty(bigram_lm_nll(empty_docs))


def test_gopher_rules_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.quality import gopher_rules

    _expect_empty(gopher_rules(empty_docs))


def test_importance_weights_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import importance_weights

    # both corpora empty: no features, no models, still a clean frame
    _expect_empty(importance_weights(empty_docs, empty_docs))


def test_line_dedup_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import line_dedup

    _expect_empty(line_dedup(empty_docs))


def test_c4_line_filter_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.quality import c4_line_filter

    _expect_empty(c4_line_filter(empty_docs))


def test_winnow_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.winnow import (
        winnow_fingerprints,
        winnow_pairs,
    )

    fps = winnow_fingerprints(empty_docs)
    _expect_empty(fps)
    _expect_empty(winnow_pairs(fps))


def test_tfidf_cosine_pairs_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import tfidf_cosine_pairs

    _expect_empty(tfidf_cosine_pairs(empty_docs))


def test_ohlc_bars_empty(empty_events):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.ohlc import ohlc_bars

    _expect_empty(ohlc_bars(empty_events))


def test_iqr_profile_empty(empty_events):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.anomaly import iqr_outlier_profile

    _expect_empty(iqr_outlier_profile(empty_events))


def test_dup_spans_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.spans import dup_spans

    _expect_empty(dup_spans(empty_docs))


def test_ngram_jaccard_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
        ngram_jaccard_pairs,
    )

    _expect_empty(ngram_jaccard_pairs(empty_docs))


def test_bloom_join_empty_fact(spark, smoke_dir):
    # empty FACT against a real dim: the prune and join must both
    # come back empty without touching the ANSI edges
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.bloom import bloom_pruned_join

    li = load_table(spark, smoke_dir, "lineitem").limit(0)
    sup = load_table(spark, smoke_dir, "supplier")
    _expect_empty(
        bloom_pruned_join(li, sup, num_bits=1 << 10)
    )


def test_dup_span_removal_empty(empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.spans import remove_dup_spans

    _expect_empty(remove_dup_spans(empty_docs))


def test_pagerank_empty(spark, empty_docs):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import near_dup_pairs_banded
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.graph import pagerank

    _expect_empty(pagerank(near_dup_pairs_banded(empty_docs)))
