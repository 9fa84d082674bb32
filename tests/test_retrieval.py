"""BM25 lexical retrieval + RRF hybrid fusion (llm/terms.py, r10)."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import bm25_topk, rrf_fuse


def _bm25_ref(corpus, terms, k1=1.2, b=0.75):
    """Pure-python BM25 reference."""
    toks = {i: t.split() for i, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in set(terms)
    }
    out = {}
    for i, v in toks.items():
        s = 0.0
        matched = 0
        for t in set(terms):
            tf = v.count(t)
            if tf == 0:
                continue
            matched += 1
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if matched:
            out[i] = (matched, round(s, 6))
    return out


def test_bm25_matches_reference(spark):
    corpus = {
        1: "spark join spark shuffle merge",
        2: "merge merge merge sort filter",
        3: "spark",
        4: "completely unrelated words here",
        5: "spark merge spark merge spark merge spark merge spark merge",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_terms_matched, r.bm25)
        for r in bm25_topk(df, ["spark", "merge"], k=10).collect()
    }
    release_staging()
    assert got == _bm25_ref(corpus, ["spark", "merge"])


def test_bm25_rank_is_deterministic_and_k_cuts(spark):
    corpus = [(i, "spark " * (i % 3 + 1) + f"filler{i}") for i in range(1, 21)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = bm25_topk(df, ["spark"], k=5).collect()
    release_staging()
    assert [r.rk for r in out] == [1, 2, 3, 4, 5]
    # equal tf docs tie-break on id ascending
    scores = [(r.bm25, r.doc_id) for r in out]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))


def test_bm25_null_rows_and_no_match(spark):
    df = spark.createDataFrame(
        [(1, "nothing relevant"), (2, None), (None, "spark")],
        "doc_id long, text string",
    )
    assert bm25_topk(df, ["spark"], k=5).count() == 0
    release_staging()
    with pytest.raises(ValueError, match="query_terms"):
        bm25_topk(df, [])
    with pytest.raises(ValueError, match="k must"):
        bm25_topk(df, ["spark"], k=0)


def test_rrf_fusion_properties(spark):
    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rk int"
    )
    vec = spark.createDataFrame(
        [(3, 1), (4, 2), (1, 3)], "doc_id long, rk int"
    )
    got = {
        r.doc_id: (r.rrf_score, r.n_lists)
        for r in rrf_fuse([lex, vec]).collect()
    }
    want = {
        1: (round(1 / 61 + 1 / 63, 6), 2),
        2: (round(1 / 62, 6), 1),
        3: (round(1 / 63 + 1 / 61, 6), 2),
        4: (round(1 / 62, 6), 1),
    }
    assert got == want
    # both-list docs out-score single-list docs at these depths
    assert got[1][0] > got[2][0] and got[3][0] > got[4][0]
    with pytest.raises(ValueError, match="rankings"):
        rrf_fuse([])


# -------------------------------------------- pseudo-relevance feedback


def _prf_corpus(spark):
    # BM25_QUERY ("spark", "vector", "merge") retrieves docs 1-3; their
    # dominant co-term is "shuffle", which doc 5 (no query term at all)
    # is full of — the query should pull doc 5 in only AFTER expansion
    return spark.createDataFrame(
        [
            (1, "spark shuffle engine with shuffle stages"),
            (2, "spark shuffle service and shuffle files"),
            (3, "spark planner details"),
            (4, "unrelated text about cooking pasta"),
            (5, "shuffle shuffle shuffle shuffle tuning"),
        ],
        "doc_id long, text string",
    )


def test_prf_expansion_nominates_feedback_coterm(spark):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import prf_expansion_terms

    rows = prf_expansion_terms(_prf_corpus(spark)).collect()
    terms = [r.term for r in rows]
    assert terms[0] == "shuffle"  # the dominant feedback co-term wins
    assert "spark" not in terms  # original query terms never re-nominated
    assert rows[0].rk == 1 and rows[0].score > 0
    # df is CORPUS-wide (doc 5 has shuffle too): 3 feedback docs
    # contribute tf, but df counts all 3 shuffle docs... (docs 1,2,5)
    assert rows[0].df == 3


def test_prf_requery_recalls_expansion_only_doc(spark):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import (
        BM25_QUERY,
        bm25_prf_topk,
        bm25_topk,
    )

    corpus = _prf_corpus(spark)
    plain = {r.doc_id for r in bm25_topk(corpus, BM25_QUERY, k=5).collect()}
    assert 5 not in plain  # no lexical match without expansion
    prf = {r.doc_id for r in bm25_prf_topk(corpus, k=5).collect()}
    assert 5 in prf  # the expansion term recalls it
    assert plain <= prf

