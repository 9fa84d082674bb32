"""Degenerate-clique regime of the banded MinHash LSH (round 8 —
VERDICT r7 ask #3).

A boilerplate-heavy corpus puts a large fraction of docs into ONE
near-dup clique (template + tiny per-doc edits — exact-dedup-proof);
every member shares band buckets and the self-join degenerates to
clique² candidate pairs.  Pins that regime and its detection:
:func:`band_bucket_profile` flags buckets above ``OVERSIZE_BUCKET``
before the pair join runs.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import dedup as ldd
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging

TEMPLATE = (
    "terms of service this website uses cookies to improve your "
    "experience by continuing you agree to our privacy policy and "
    "the collection of usage data for analytics purposes"
)
WORDS = "spark query join filter window stream table scan merge sort".split()

N = 240
FRAC = 0.5  # half the corpus is one clique


def _clique_docs(spark, n, frac):
    w = F.array(*[F.lit(x) for x in WORDS])
    rand_words = F.transform(
        F.sequence(F.lit(1), F.lit(25)),
        lambda i: F.element_at(
            w,
            (F.pmod(F.xxhash64(F.col("doc_id"), i), F.lit(len(WORDS))) + 1).cast(
                "int"
            ),
        ),
    )
    # per-doc-unique trailing token: every clique member is byte-
    # distinct (exact-dedup-proof) yet shares all template shingles
    clique_text = F.concat(
        F.lit(TEMPLATE + " edit doc "), F.col("doc_id").cast("string")
    )
    return (
        spark.range(n)
        .withColumnRenamed("id", "doc_id")
        .select(
            "doc_id",
            F.when(
                F.pmod(F.xxhash64("doc_id", F.lit(9)), F.lit(1000))
                < int(frac * 1000),
                clique_text,
            )
            .otherwise(F.concat_ws(" ", rand_words))
            .alias("text"),
        )
    )


@pytest.fixture(scope="module")
def clique_docs(spark):
    docs = _clique_docs(spark, N, FRAC)
    yield docs.cache()
    docs.unpersist()


@pytest.fixture(scope="module")
def n_clique(clique_docs):
    return clique_docs.filter(F.col("text").startswith("terms of")).count()


def _pairs(docs):
    try:
        return ldd.near_dup_pairs_banded(docs).count()
    finally:
        release_staging()


def test_uncapped_blows_up_to_clique_squared(clique_docs, n_clique):
    # the clique is exact-dedup-proof …
    n_hashes = (
        clique_docs.select(F.sha2("text", 256)).distinct().count()
    )
    assert n_hashes == N, "clique members must NOT be exact duplicates"
    # … and its pair set is Θ(clique²): the template dominates every
    # shingle, so nearly the whole within-clique pair set verifies
    # (banded LSH is probabilistic — a pair collides only if it
    # shares ≥1 band, so allow a small recall slack).
    expected = n_clique * (n_clique - 1) // 2
    assert _pairs(clique_docs) >= 0.95 * expected


def test_profile_detects_the_regime(spark):
    # a clique larger than the profile's oversize bound (the profile
    # builds band keys only, no pair join, so the size is cheap)
    n = ldd.OVERSIZE_BUCKET + 100
    docs = _clique_docs(spark, n, frac=1.0)
    try:
        row = ldd.band_bucket_profile(docs).collect()[0]
    finally:
        release_staging()
    assert row["oversize_buckets"] >= 1
    # a few members can hash out of the dominant bucket per band
    assert row["max_bucket_size"] >= 0.9 * n
    assert row["oversize_pairs"] >= 0.8 * (n * (n - 1) // 2)
    assert row["candidate_pairs"] >= row["oversize_pairs"]


def test_profile_below_the_bound_reports_no_oversize(clique_docs, n_clique):
    try:
        row = ldd.band_bucket_profile(clique_docs).collect()[0]
    finally:
        release_staging()
    assert n_clique < ldd.OVERSIZE_BUCKET
    assert row["max_bucket_size"] >= 0.9 * n_clique
    assert row["oversize_buckets"] == 0 and row["oversize_pairs"] == 0
