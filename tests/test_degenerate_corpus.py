"""Injection class (r9 second half): the ALL-DUPLICATE corpus.

The r8 LSH-clique work measured the PERFORMANCE cliff of a
duplicate-saturated corpus; this suite pins the CORRECTNESS side: a
corpus where one text owns most of the table is the regime where
keep-first tie-breaks, df-caps, pair thresholds, and flagged-position
merges all fire at once — and where an engine-specific tie split
would finally show.  Fixture: 60 copies of one document, 10 copies of
a second, 5 unique docs, plus an empty and a NULL text.  Every
dedup/span/graph-family twin must agree with DuckDB on it, and the
operators' own degenerate contracts are pinned directly:

* exact/keyed dedup keep exactly one winner per clone set (min id);
* dup_spans flags every position of every clone (one full-width span
  per clone doc);
* span removal keep-first leaves exactly ONE intact clone;
* winnow_pairs' df-cap (64) silently drops a 60-clone fingerprint?
  NO — 60 < 64 keeps it; the pin documents where the cap bites;
* PageRank over the clone clique is uniform within the clique.
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

CLONE_A = (
    "the quick brown fox jumps over the lazy dog and keeps on running "
    "until the very end of the line where everything repeats again"
)
CLONE_B = "completely different boilerplate text that also repeats verbatim"
UNIQUES = [
    "one unique document about parquet files and shuffle partitions",
    "another unique document mentioning broadcast joins and skew salting",
    "a third text on watermarks late data and session windows",
    "the fourth unique entry covers bloom filters and bucket pruning",
    "finally a fifth document discussing quantile edges and histograms",
]


def _docs_rows():
    rows = []
    i = 1
    for _ in range(60):
        rows.append((i, CLONE_A)); i += 1
    for _ in range(10):
        rows.append((i, CLONE_B)); i += 1
    for u in UNIQUES:
        rows.append((i, u)); i += 1
    rows.append((i, "")); i += 1
    rows.append((i, None)); i += 1
    return rows


#: dedup/span/graph-family twins replayed on the degenerate corpus
ENTRIES = [
    "doc_exact_dedup",
    "doc_normalized_dedup",
    "doc_near_dup_banded",
    "doc_ngram_jaccard",
    "doc_simhash_near_dup",
    "doc_dup_spans",
    "doc_dup_span_removal",
    "doc_winnow_fingerprints",
    "doc_winnow_pairs",
    "doc_line_dedup",
    "doc_dup_clusters_panel",
    "doc_pagerank",
    # r10: the 60-clone clique is the triangle/LPA/weighted-rank worst
    # case (K60: 34k wedge-join rows per corner; LPA majority over 59
    # identical votes; weights all 1.0 must equal unweighted)
    "doc_pagerank_weighted",
    "doc_graph_triangles",
    "doc_graph_communities",
    "corpus_shuffle_order",
    "corpus_keep_central",
    "corpus_keep_best",
    "corpus_clean_pipeline",
]


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("degen_sf")
    src = "/root/testdata/sf0.001"
    rows = _docs_rows()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?, 'en', 'degen', NULL)" for _ in rows)
        + ") AS t(doc_id, text, lang, source, n_chars)"
    , [x for r in rows for x in r])
    con.execute(
        "COPY (SELECT doc_id, text, lang, source, "
        "CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars FROM d) "
        f"TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if t != "documents" and os.path.exists(p):
            shutil.copy(p, os.path.join(out, f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def duck(degen_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(degen_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_on_degenerate_corpus(spark, degen_dir, duck, name, check):
    try:
        problems = check.compare(
            name,
            spark,
            duck,
            degen_dir,
            entrymod.queries()[name],
            entrymod.oracle_sql()[name],
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)


def test_exact_dedup_keeps_one_clone(spark, degen_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import exact_dedup
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    docs = load_table(spark, degen_dir, "documents")
    kept = exact_dedup(docs)
    texts = [r.text for r in kept.collect()]
    release_staging()
    assert texts.count(CLONE_A) == 1 and texts.count(CLONE_B) == 1


def test_span_removal_keep_first_leaves_one_intact_clone(spark, degen_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.spans import remove_dup_spans
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    docs = load_table(spark, degen_dir, "documents").where(
        "text = '%s'" % CLONE_A.replace("'", "''")
    )
    out = remove_dup_spans(docs).collect()
    release_staging()
    intact = [r for r in out if r.n_tokens_removed == 0]
    gutted = [r for r in out if r.clean_text is None]
    # exactly one clone survives whole; every other clone is fully
    # excised (their every position is duplicated, keep-first only
    # protects the globally first occurrence's shingles)
    assert len(intact) == 1
    assert len(gutted) == len(out) - 1
    assert intact[0].doc_id == min(r.doc_id for r in out)


def test_pagerank_uniform_within_clone_clique(spark, degen_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.plans.llm_queries import doc_pagerank

    out = doc_pagerank(spark, degen_dir).collect()
    release_staging()
    # the 60-clone clique is regular: every member identical rank
    clique = [r for r in out if r.degree == 59]
    assert len(clique) == 60
    assert len({r.rank for r in clique}) == 1
