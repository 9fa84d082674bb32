"""NUL / BOM / control-character injection over the text twins
(round 8 — extra injection class).

Scraped corpora carry every byte UTF-8 allows.  The exploration run
(scripts/probe_control_chars.py at c84e9fc) failed NINE text entries on
one root cause: **Java's ``\\s`` includes ``\\x0B`` (vertical tab), RE2's does
not** — so a VT-bearing doc tokenized differently per engine and the
divergence propagated through token counts, chunks, fingerprints,
shingle TF-IDF, repetition, decontamination, and the clean pipeline.

Fix (pinned here): every whitespace class shared between the engines
is the EXPLICIT Java ASCII set ``[ \\t\\n\\x0B\\f\\r]`` (text.py
``WS_CHARS``), byte-identical to Spark's previous ``\\s`` behavior —
no clean-fixture hash moved; only the DuckDB twins changed on VT/FF
text.  NUL-through-hash/length/substr, BOM-glued first tokens, and
C0/DEL chars agreed everywhere else.

The fixture is built with pyarrow (DuckDB SQL literals cannot spell
NUL, but both engines READ it from parquet fine — verified).
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

_DIRTY = {
    0: "has\x00nul byte inside",
    1: "﻿bom glued to first token",
    2: "bell\x07 backspace\x08 escape\x1b chars",
    3: "del\x7fchar and unit sep\x1f here",
    4: "vertical\x0btab and form\x0cfeed",
    5: "nul at end\x00",
    6: "\x00nul at start",
    7: "crlf\r\nand bare cr\r here",
}

ENTRIES = [
    "doc_exact_dedup",
    "doc_normalized_dedup",
    "doc_unicode_normalized",
    "doc_near_dup_banded",
    "doc_simhash_near_dup",
    "doc_text_stats",
    "doc_token_counts",
    "doc_token_chunks",
    "doc_text_panel",
    "doc_lang_id",
    "doc_profile",
    "doc_repetition_profile",
    "doc_decontaminated",
    "doc_tfidf_top_terms",
    "doc_lm_quality",
    "doc_gopher_rules",
    "doc_importance_weights",
    "doc_line_dedup",
    "doc_c4_clean",
    "doc_prefix_contained",
    "corpus_clean_pipeline",
    "stream_line_dedup_ingest",
]


@pytest.fixture(scope="module")
def ctrl_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("ctrl_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "documents":
            tbl = pq.read_table(p)
            ids = tbl.column("doc_id").to_pylist()
            texts = tbl.column("text").to_pylist()

            def inject(i, txt):
                cls = (i * 2654435761) % 29
                if txt is not None and cls in _DIRTY:
                    return _DIRTY[cls]
                return txt

            tbl = tbl.set_column(
                tbl.schema.get_field_index("text"),
                "text",
                pa.array(
                    [inject(i, s) for i, s in zip(ids, texts)],
                    type=pa.string(),
                ),
            )
            pq.write_table(tbl, f"{out}/{t}.parquet")
        else:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{p}')) "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
    con.close()
    import pyarrow.parquet as pq2

    texts = (
        pq2.read_table(f"{out}/documents.parquet").column("text").to_pylist()
    )
    assert sum(1 for s in texts if s and "\x00" in s) > 0, "no NUL injected"
    assert sum(1 for s in texts if s and "\x0b" in s) > 0, "no VT injected"
    return str(out)


@pytest.fixture(scope="module")
def duck(ctrl_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(ctrl_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_control_chars(spark, ctrl_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, ctrl_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
