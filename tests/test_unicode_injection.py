"""Unicode normalization / collation injection over the text twins
(round 8 — class 2b of the VERDICT r7 ask).

Primitive recon found two real cross-engine casefold divergences —
``upper('ß')`` (Java 'SS' vs utf8proc 'ẞ') and ``lower('İ')`` (Java
'i'+U+0307 vs utf8proc bare 'i') — and the exploration run
(scripts/probe_unicode_edges.py at c84e9fc) caught ``doc_normalized_dedup``
hashing different norm keys per engine on Turkish-İ text.  The fix
(strip ``\\p{Mn}`` after lower in BOTH engines) is pinned here, along
with agreement of every text-key twin under: literal NFC/NFD twin
sentences on different docs (must dedup the SAME way — byte-distinct
in both engines), stacked combining marks, Turkish dotted/dotless I,
the ß casefold family, non-BMP surrogate-pair letters, ZWJ emoji
clusters, and regional-indicator flags.

``doc_unicode_normalized`` (the NFC ingest operator, r8) is the one
entry whose ``changed`` flag actually FIRES on this fixture — it pins
pandas ``unicodedata`` NFC == DuckDB ``nfc_normalize`` byte-for-byte.
"""

from __future__ import annotations

import os
import sys
import unicodedata

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import panel_legs
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

_SENT = "Élan café résumé naïve coöperate São Paulo Żółć"
NFC_SENT = unicodedata.normalize("NFC", _SENT)
NFD_SENT = unicodedata.normalize("NFD", _SENT)

#: (modulus-class, replacement text)
_DIRTY = [
    (0, NFC_SENT),
    (1, NFD_SENT),
    (2, "İstanbul ıssız Diyarbakır kapı"),
    (3, "straße STRASSE Straße MASSE maße"),
    (4, "é̂̃ stacked q̣̇ marks"),
    (5, "\U0001d54a\U0001d55a\U0001d552\U0001d55b math \U0001d4c1etters"),
    (6, "family \U0001F468‍\U0001F469‍\U0001F467 zwj "
        "\U0001F3F3️‍\U0001F308"),
    (7, "flags \U0001F1FA\U0001F1F8 \U0001F1E9\U0001F1EA \U0001F1EF\U0001F1F5"),
]

ENTRIES = [
    "doc_exact_dedup",
    "doc_normalized_dedup",
    "doc_unicode_normalized",
    "doc_near_dup_banded",
    "doc_simhash_near_dup",
    "doc_ngram_jaccard",
    "doc_text_stats",
    "doc_token_counts",
    "doc_token_chunks",
    "doc_text_panel",
    "doc_lang_id",
    "doc_profile",
    "doc_repetition_profile",
    "doc_pii_redact",
    "doc_decontaminated",
    "doc_tfidf_top_terms",
    "corpus_clean_pipeline",
]


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("unicode_sf")
    con = duckdb.connect()
    whens = " ".join(
        "WHEN hash(doc_id) % 29 = {k} THEN '{lit}'".format(
            k=k, lit=txt.replace("'", "''")
        )
        for k, txt in _DIRTY
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
    n_nfd = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/documents.parquet') "
        "WHERE nfc_normalize(text) <> text"
    ).fetchone()[0]
    assert n_nfd > 0, "no NFD text injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(unicode_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(unicode_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_unicode_edges(spark, unicode_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, unicode_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
