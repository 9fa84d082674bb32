"""Unit tests for llm/terms.py::tfidf_cosine_pairs (r9)."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import (
    TFIDF_MAX_DF,
    TFIDF_MIN_SIM,
    tfidf_cosine_pairs,
)


def _pairs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    return tfidf_cosine_pairs(df).collect()


def test_hand_computed_graded_cosine(spark):
    # 4 docs, vocabulary {apple, banana, cherry, durian}; no term is
    # df-capped (TFIDF_MAX_DF=64 >> 4).  Docs 1/2 share {apple, banana},
    # doc 3 shares only banana with them, doc 4 is disjoint.
    rows = [
        (1, "apple banana"),
        (2, "apple banana cherry"),
        (3, "banana"),
        (4, "durian durian"),
    ]
    out = {(r.id_a, r.id_b): r for r in _pairs(spark, rows)}
    n = 4
    idf = {t: math.log(n / df) for t, df in
           {"apple": 2, "banana": 3, "cherry": 1, "durian": 1}.items()}

    def vec(counts):
        w = {t: c * idf[t] for t, c in counts.items()}
        nrm = math.sqrt(sum(x * x for x in w.values()))
        return {t: x / nrm for t, x in w.items()}

    v1 = vec({"apple": 1, "banana": 1})
    v2 = vec({"apple": 1, "banana": 1, "cherry": 1})
    expected_12 = round(sum(v1[t] * v2.get(t, 0.0) for t in v1), 6)
    assert out[(1, 2)].sim == pytest.approx(expected_12, abs=1e-6)
    assert 0 < out[(1, 2)].sim < 1
    assert out[(1, 2)].n_shared_terms == 2
    assert TFIDF_MIN_SIM <= out[(1, 3)].sim < out[(1, 2)].sim  # banana-only overlap
    assert (1, 4) not in out and (2, 4) not in out  # disjoint


def test_identical_docs_hit_cosine_one(spark):
    rows = [(1, "red green blue"), (2, "red green blue"), (3, "x y z")]
    out = _pairs(spark, rows)
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    assert out[0].sim == 1.0


def test_df_cap_drops_stopword_only_overlap(spark):
    # 'the' is in more than TFIDF_MAX_DF docs, so it is dropped: docs 1
    # and 2 (identical, 'the' only, cosine 1 without the cut) cannot
    # pair, and no other doc shares a kept term
    n = TFIDF_MAX_DF + 1
    rows = [(1, "the"), (2, "the")]
    rows += [(i, f"the unique{i}") for i in range(3, n + 1)]
    rows += [(n + 1, "no stopword here")]
    assert _pairs(spark, rows) == []


def test_zero_norm_docs_cannot_pair(spark):
    # doc 3's only term is df-capped away -> zero kept-space norm
    rows = [
        (1, "alpha beta common"),
        (2, "alpha beta common"),
        (3, "common"),
    ]
    rows += [(i, f"common gamma{i}") for i in range(4, TFIDF_MAX_DF + 2)]
    out = _pairs(spark, rows)
    ids = {i for r in out for i in (r.id_a, r.id_b)}
    assert 3 not in ids
    assert (1, 2) in {(r.id_a, r.id_b) for r in out}


def test_threshold_cuts_low_similarity_pairs(spark):
    # (1, 2) and (2, 4) share only 'aa': cosine ~0.078 < TFIDF_MIN_SIM
    rows = [(1, "aa bb"), (2, "aa cc"), (3, "dd ee"), (4, "aa bb")]
    assert [(r.id_a, r.id_b) for r in _pairs(spark, rows)] == [(1, 4)]


def test_null_ids_are_not_pairable(spark):
    rows = [(None, "zz yy"), (1, "zz yy"), (2, "zz yy")]
    out = _pairs(spark, rows)
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
