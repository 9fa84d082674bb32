"""Partition-invariance properties (round 7).

Nearly every determinism claim in this repo is of the form "same
result on every run, at any cluster size".  Locally that claim is
only exercised at one fixed partitioning — so an operator that
accidentally depended on partition layout (``rand()``,
``monotonically_increasing_id``, first-row-wins dedup, per-partition
state) would pass every twin check and still be nondeterministic on a
real cluster.  These tests replay the deterministic operator family
over the SAME input at 1, 3, and 17 input partitions and assert
byte-identical results.

17 is deliberately coprime with the session's shuffle partitions (4 in
tests) so rows cross partition boundaries differently in every
layout.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import sampling as lsmp
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import exact_dedup
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.packing import pack_bins
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import (
    dedup_keyed_deterministic,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

PARTITIONINGS = (1, 3, 17)


def _canon(df):
    """Order-insensitive canonical form of a result frame.  Floats are
    rounded to 6 places (the oracle gate's tolerance): a distributed
    double SUM is only partition-invariant up to FP associativity —
    the last ulp legitimately differs with partial-sum order."""
    cols = sorted(df.columns)
    rows = [
        tuple(
            str(round(r[c], 6)) if isinstance(r[c], float) else str(r[c])
            for c in cols
        )
        for r in df.collect()
    ]
    return sorted(rows)


def _runs(docs_by_parts, fn):
    """Apply ``fn`` to each partitioning of the input and canonicalize."""
    outs = []
    for df in docs_by_parts:
        try:
            outs.append(_canon(fn(df)))
        finally:
            release_staging()
    return outs


@pytest.fixture(scope="module")
def docs_by_parts(spark, smoke_dir):
    base = load_table(spark, smoke_dir, "documents")
    return [base.repartition(n) for n in PARTITIONINGS]


@pytest.fixture(scope="module")
def events_by_parts(spark, smoke_dir):
    base = load_table(spark, smoke_dir, "events")
    return [base.repartition(n) for n in PARTITIONINGS]


def _assert_invariant(outs):
    assert outs[0], "empty result would make the property vacuous"
    for other in outs[1:]:
        assert other == outs[0]


def test_split_assign_invariant(docs_by_parts):
    _assert_invariant(
        _runs(docs_by_parts, lambda d: lsmp.split_assign(d).select("doc_id", "split"))
    )


def test_stratified_sample_invariant(docs_by_parts):
    _assert_invariant(
        _runs(
            docs_by_parts,
            lambda d: lsmp.stratified_sample(d).select("doc_id"),
        )
    )


def test_weighted_take_invariant(docs_by_parts):
    _assert_invariant(
        _runs(
            docs_by_parts,
            lambda d: lsmp.weighted_take(d).select(
                "doc_id", "priority"
            ),
        )
    )


def test_take_per_stratum_invariant(docs_by_parts):
    _assert_invariant(
        _runs(
            docs_by_parts,
            lambda d: lsmp.take_per_stratum(d).select(
                "doc_id", "lang"
            ),
        )
    )


def test_mixture_sample_invariant(docs_by_parts):
    wt = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    _assert_invariant(
        _runs(
            docs_by_parts,
            lambda d: lsmp.mixture_sample(
                d.withColumnRenamed("n_chars", "n_tokens"), wt
            ).select("doc_id"),
        )
    )


def test_exact_dedup_invariant(docs_by_parts):
    _assert_invariant(
        _runs(docs_by_parts, lambda d: exact_dedup(d).select("doc_id"))
    )


def test_dedup_keyed_deterministic_invariant(events_by_parts):
    _assert_invariant(
        _runs(
            events_by_parts,
            lambda d: dedup_keyed_deterministic(
                d.select("user_id", "event_type", "event_id", "value"),
                keys=["user_id", "event_type"],
                tiebreak=["event_id"],
            ),
        )
    )


def test_pack_bins_invariant(docs_by_parts):
    _assert_invariant(_runs(docs_by_parts, lambda d: pack_bins(d)))


def test_minhash_banded_pairs_invariant(docs_by_parts):
    """The LSH pair set is a pure function of the texts (frozen
    permutation seeds, content-derived band buckets) — partition
    layout must not change which candidate pairs form or survive."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import near_dup_pairs_banded

    _assert_invariant(_runs(docs_by_parts, near_dup_pairs_banded))


def test_simhash_pairs_invariant(docs_by_parts):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import simhash_near_dup_pairs

    _assert_invariant(_runs(docs_by_parts, simhash_near_dup_pairs))


def test_cc_labels_invariant(docs_by_parts):
    """Connected-component labels (min id per component) over the
    banded pair set — the iterative label propagation must converge to
    the same labeling from any input layout."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.clusters import connected_components
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import near_dup_pairs_banded

    def fn(d):
        pairs = near_dup_pairs_banded(d).select("id_a", "id_b")
        return connected_components(pairs)

    _assert_invariant(_runs(docs_by_parts, fn))


def test_ngram_jaccard_pairs_invariant(docs_by_parts):
    """The inverted-index Jaccard pair set (df-capped postings) is a
    pure function of the texts — the df cut counts documents, not
    partitions."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import ngram_jaccard_pairs

    _assert_invariant(_runs(docs_by_parts, ngram_jaccard_pairs))


def test_cc_alternating_labels_invariant(docs_by_parts):
    """The large/small-star algorithm must converge to the same
    labeling as any layout (and the same labels the simple propagation
    produces — both are min-id-per-component)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.clusters import (
        connected_components_alternating,
    )
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import near_dup_pairs_banded

    def fn(d):
        pairs = near_dup_pairs_banded(d).select("id_a", "id_b")
        return connected_components_alternating(pairs)

    _assert_invariant(_runs(docs_by_parts, fn))


def test_band_bucket_profile_invariant(docs_by_parts):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import band_bucket_profile

    _assert_invariant(_runs(docs_by_parts, band_bucket_profile))


def test_normalize_text_invariant(docs_by_parts):
    """r8: the Arrow-batched NFC normalizer is per-row — batch and
    partition boundaries must not leak into results."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.normalize import normalize_text

    _assert_invariant(
        _runs(
            docs_by_parts,
            lambda d: normalize_text(d).select(
                "doc_id", "text", "changed"
            ),
        )
    )


def test_ewma_invariant(events_by_parts):
    """r8: fixed-anchor EWMA is a plain partial aggregate — partial-sum
    order only moves the last ulp, absorbed by the round(6) contract."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.decay import ewma_by_key

    _assert_invariant(
        _runs(events_by_parts, lambda d: ewma_by_key(d))
    )


def test_prefix_contained_invariant(docs_by_parts):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import prefix_contained

    _assert_invariant(_runs(docs_by_parts, prefix_contained))


def test_bigram_lm_nll_invariant(docs_by_parts):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import bigram_lm_nll

    _assert_invariant(_runs(docs_by_parts, bigram_lm_nll))


def test_line_dedup_invariant(docs_by_parts):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import line_dedup

    _assert_invariant(_runs(docs_by_parts, line_dedup))


def test_importance_weights_invariant(docs_by_parts):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import importance_weights

    _assert_invariant(
        _runs(docs_by_parts, lambda d: importance_weights(d, d.filter("lang = 'en'")))
    )


def test_winnow_fingerprints_invariant(docs_by_parts):
    """Winnowing selections are a pure per-doc function (window min
    over the doc's own shingle sequence) — layout must not matter."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.winnow import winnow_fingerprints

    _assert_invariant(_runs(docs_by_parts, winnow_fingerprints))


def test_winnow_pairs_invariant(docs_by_parts):
    """The df-capped fingerprint pair join counts documents, not
    partitions, in its boilerplate cut."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.winnow import (
        winnow_fingerprints,
        winnow_pairs,
    )

    _assert_invariant(
        _runs(
            docs_by_parts,
            lambda d: winnow_pairs(winnow_fingerprints(d)),
        )
    )


def test_distributed_rank_invariant(events_by_parts):
    """The two-level rank decomposition is a pure function of the row
    multiset — counts per distinct value and their running sum cannot
    depend on layout."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.ranking import distributed_rank

    _assert_invariant(
        _runs(
            events_by_parts,
            lambda d: distributed_rank(d.select("event_id", "event_type", "value")),
        )
    )


def test_ohlc_bars_invariant(events_by_parts):
    """min/max(struct) open/close selection is order-agnostic by
    construction — any layout must produce identical bars."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.ohlc import ohlc_bars

    _assert_invariant(_runs(events_by_parts, ohlc_bars))


def test_tfidf_cosine_pairs_invariant(docs_by_parts):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import tfidf_cosine_pairs

    _assert_invariant(
        _runs(docs_by_parts, tfidf_cosine_pairs)
    )
