"""Grapheme-cluster / astral-plane injection pass (round 8, class i —
the multi-code-point sibling of tests/test_dirty_text_injection.py).

The dirty-text gate already proved single-code-point emoji agree.
This class injects text whose USER-PERCEIVED characters span several
code points — ZWJ family emoji, regional-indicator flag pairs,
skin-tone modifiers, VS16 variation sequences, stacked combining
marks with no NFC precomposition — and replays the text-consuming
twins through the driver-gate comparator.  These are exactly the
shapes where "character" semantics fork: an engine that counts or
slices GRAPHEME CLUSTERS disagrees with one that counts CODE POINTS.

Primitive census (scripts/probe_grapheme.py at c84e9fc): Spark and DuckDB agree
on ``length``/``substring``/``upper``/``lower`` (both code-point
based) but DIVERGE on ``reverse`` — DuckDB reverses grapheme clusters
(a ZWJ family survives intact), Spark reverses code points (the ZWJ
sequence is torn).  No twin uses ``reverse`` today;
``test_reverse_divergence_is_pinned`` documents the fork so a future
twin never reaches for it blind.

Placement matters: a multi-code-point cluster is injected as the
FIRST character of some docs (the ``doc_prefix_contained`` block key
is ``substring(text, 1, block_chars)`` — a grapheme-aware substring
would split the corpus into different blocks), at whitespace
boundaries (tokenizer), and as the entire text (length/ratio
denominators).
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

_ZWJ = "chr(8205)"  # U+200D zero-width joiner

#: (modulus-class, replacement SQL expression).  ``chr()``
#: concatenations keep the fixture source ASCII-auditable.
_GRAPHEME = [
    # ZWJ family mid-text: man/woman/girl joined = one cluster
    (0, f"'family ' || chr(128104) || {_ZWJ} || chr(128105) || {_ZWJ} "
        "|| chr(128103) || ' here'"),
    # flag pair = two regional indicators (U+1F1FA U+1F1F8), one cluster
    (1, "'flag ' || chr(127482) || chr(127480) || ' day'"),
    # skin-tone cluster (wave + medium-light modifier) as the FIRST
    # character (prefix block key)
    (2, "chr(128075) || chr(127996) || ' wave first'"),
    # VS16 sequences (heart + variation selector) at token boundaries
    (3, "'hearts ' || chr(10084) || chr(65039) || ' ' || chr(10084) "
        "|| chr(65039) || ' end'"),
    # stacked combining acutes with NO precomposed NFC form
    (4, "'acce' || chr(769) || chr(769) || 'nt stack'"),
    # the whole text is one grapheme cluster (denominator edges)
    (5, f"chr(128104) || {_ZWJ} || chr(128105) || {_ZWJ} || chr(128102)"),
]

#: The text-consuming twins: tokenizers, hashes, shingles, LSH
#: staging, normalization, block-keyed windows, quality ratios.
ENTRIES = [
    "doc_exact_dedup",
    "doc_normalized_dedup",
    "doc_unicode_normalized",
    "doc_near_dup_banded",
    "doc_ngram_jaccard",
    "doc_simhash_near_dup",
    "doc_text_stats",
    "doc_token_counts",
    "doc_token_chunks",
    "doc_text_panel",
    "doc_lang_id",
    "doc_profile",
    "doc_repetition_profile",
    "doc_tfidf_top_terms",
    "doc_prefix_contained",
    "doc_lm_quality",
    "doc_gopher_rules",
    "doc_importance_weights",
    "doc_line_dedup",
    "doc_c4_clean",
    "corpus_clean_pipeline",
    "stream_line_dedup_ingest",
]


@pytest.fixture(scope="module")
def grapheme_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("grapheme_sf")
    con = duckdb.connect()
    whens = " ".join(
        f"WHEN hash(doc_id) % 23 = {k} THEN {lit}" for k, lit in _GRAPHEME
    )
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "documents":
            sel = (
                f"SELECT * REPLACE ((CASE {whens} ELSE text END) AS text) "
                f"FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_dirty = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/documents.parquet') "
        "WHERE contains(text, chr(8205)) OR contains(text, chr(127482)) "
        "   OR contains(text, chr(65039)) OR contains(text, chr(769))"
    ).fetchone()[0]
    assert n_dirty > 0, "grapheme injection replaced nothing"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(grapheme_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(grapheme_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_grapheme_clusters(spark, grapheme_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, grapheme_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)


def test_reverse_divergence_is_pinned(spark):
    """Census pin: DuckDB ``reverse`` is grapheme-aware, Spark's is
    code-point based.  If either side ever changes, this fails and the
    no-reverse-in-twins rule should be revisited."""
    zwj = "\U0001F468\u200d\U0001F469"
    got_spark = spark.sql(
        "SELECT reverse(x) AS r FROM VALUES (:x) t(x)", args={"x": zwj}
    ).collect()[0].r
    got_duck = duckdb.connect().execute("SELECT reverse(?)", [zwj]).fetchone()[0]
    assert got_spark == "\U0001F469\u200d\U0001F468"  # torn: cps reversed
    assert got_duck == zwj  # intact: one cluster reversed is itself
