"""Dirty-text injection pass over the document-family oracle twins
(round 7 — the degenerate-STRING sibling of tests/test_null_injection.py).

The null gate proved NULL handling agrees across engines; this suite
injects the other dirty shapes real corpora carry — empty strings,
whitespace-only text, doubled/leading/trailing separators, tabs and
newlines, non-ASCII (diacritics, CJK, emoji), embedded quotes — and
replays every text-consuming twin through the driver-gate comparator.
Divergence candidates this targets: tokenizer split semantics on
empty/edge separators (verified identical on primitives, but the
composed expressions differ per operator), lower()/length() unicode
behavior, shingle windows over sub-``n`` token lists, hash inputs
(md5/sha2 of ''), regexp quality metrics, and fingerprint rolling
hashes.

Injection is hash-keyed (``hash(doc_id) % k``) so the fixture is
deterministic; each modulus class gets a different dirty shape.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import panel_legs
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES



#: (modulus-class, replacement SQL literal).  Each hash class of
#: doc_id gets one dirty shape; ~1/4 of all docs end up dirty.
_DIRTY = [
    (0, "''"),                       # empty string
    (1, "'   '"),                    # whitespace-only
    (2, "'  leading  and  doubled '"),
    (3, "e'tab\\there\\nand newline'"),
    (4, "'Ünïcödé tøkens straße œuvre'"),
    (5, "'中文 文本 重复 中文 文本'"),
    (6, "'emoji 😀 in 😀 text 😀'"),
    (7, "e'quote '' and \"double\" mark'"),
]

#: Text-consuming twins (shingling, hashing, tokens, quality, LSH,
#: clustering, chunking, packing, fingerprints, TF-IDF, decontam).
ENTRIES = [
    "doc_exact_dedup",
    "doc_normalized_dedup",
    "doc_near_dup_banded",
    "doc_ngram_jaccard",
    "doc_simhash_near_dup",
    "doc_simhash_buckets",
    "doc_near_dup_removal",
    "doc_dedup_delta",
    "doc_text_stats",
    "doc_token_counts",
    "doc_token_chunks",
    "doc_chunk_dedup",
    "doc_lang_id",
    "doc_profile",
    "doc_text_panel",
    "doc_repetition_profile",
    "doc_pii_redact",
    "doc_decontaminated",
    "doc_tfidf_top_terms",
    "doc_lm_quality",
    "doc_gopher_rules",
    "doc_importance_weights",
    "doc_line_dedup",
    "doc_c4_clean",
    "doc_pack_bins",
    "doc_dup_clusters_panel",
    "corpus_clean_pipeline",
    "stream_line_dedup_ingest",
    "corpus_keep_best",
    # r9 newcomers: winnowing + sparse TF-IDF over degenerate text
    "doc_winnow_fingerprints",
    "doc_winnow_pairs",
    "doc_tfidf_cosine_pairs",
    # r9 second half: duplicate-span detection (empty/whitespace/emoji
    # docs through positional shingles + islands merge)
    "doc_dup_spans",
    "doc_dup_span_removal",
    "doc_pagerank",
    "corpus_keep_central",
    # r10 newcomers: the R-S join, LPA majority vote, weighted rank,
    # triangle close, and the seeded shuffle all run over the dirty
    # corpus too
    "doc_cross_corpus_jaccard",
    "doc_graph_communities",
    "doc_graph_triangles",
    "doc_pagerank_weighted",
    "corpus_shuffle_order",
    # r10 second wave: BM25 over dirty tokens (the WS class must
    # tokenize identically), the leakage composition, the media audit
    "doc_bm25_topk",
    "pipeline_split_leakage",
    "multimodal_integrity_audit",
]


@pytest.fixture(scope="module")
def dirty_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("dirty_sf")
    con = duckdb.connect()
    whens = " ".join(
        f"WHEN hash(doc_id) % 31 = {k} THEN {lit}" for k, lit in _DIRTY
    )
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "documents":
            sel = f"SELECT * REPLACE ((CASE {whens} ELSE text END) AS text) FROM read_parquet('{p}')"
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_dirty = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/documents.parquet') "
        "WHERE text = '' OR trim(text) = '' OR text LIKE '%😀%'"
    ).fetchone()[0]
    assert n_dirty > 0, "dirty-text injection replaced nothing"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(dirty_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(dirty_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_dirty_text(spark, dirty_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, dirty_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
