"""Injection class (r9 second half): EXACT THRESHOLD-BOUNDARY rows
through the quality-filter family.

Every Gopher/C4 rule is a comparison against a published constant
(≤ 0.1, ≥ 50 words, ≥ 5 sentences, …).  The synthetic corpus never
lands ON a boundary, so a transcription slip — `<` for `<=`, a ratio
over the wrong denominator, a sentence count that misses multi-dot
runs — stays invisible to the driver gate.  This suite crafts one
document per boundary (pass side and fail side), then

1. asserts the Spark-side flags flip EXACTLY where the published rule
   says (rule fidelity, not just engine agreement), and
2. replays the quality-family twins through the driver comparator on
   a fixture whose documents table is exactly these boundary docs
   (engine agreement at the boundaries).
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.quality import c4_line_filter, gopher_rules
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

# ---------------------------------------------------------------------------
# crafted boundary documents
# ---------------------------------------------------------------------------

_A = "cat"  # 3-char alpha filler word


def _words(n, extra=(), filler=_A):
    """n alpha words including 'the' and 'and' (2 stop hits); pick a
    longer ``filler`` when the doc also carries 1-char symbol tokens,
    so mean word length stays inside the [3, 10] gate."""
    base = ["the", "and"] + [filler] * (n - 2 - len(extra)) + list(extra)
    assert len(base) == n
    return base


#: (name, text, expect_gopher_pass or None, expect_c4_keep or None)
BOUNDARY_DOCS = [
    # --- Gopher word-count bounds -----------------------------------
    ("g_w50_pass", " ".join(_words(50)), True, None),
    ("g_w49_fail", " ".join(_words(49)), False, None),
    # --- mean word length exactly 10.0 (500 chars / 50 words) -------
    # 3+3 + 47*10 + 24 = 500 chars / 50 words = exactly 10.0
    (
        "g_mean10_pass",
        " ".join(["the", "and"] + ["alphabetic" for _ in range(47)] + ["a" * 24]),
        True,
        None,
    ),
    (
        "g_mean_fail",  # 501/50 = 10.02
        " ".join(["the", "and"] + ["alphabetic" for _ in range(47)] + ["a" * 25]),
        False,
        None,
    ),
    # --- hash ratio exactly 6/60 = 0.1 (4-char fillers keep the
    # 1-char '#' tokens from dragging mean word length under 3) ------
    ("g_hash_pass", " ".join(_words(54, filler="lynx")) + " " + " ".join(["#"] * 6), True, None),
    ("g_hash_fail", " ".join(_words(53, filler="lynx")) + " " + " ".join(["#"] * 7), False, None),
    # --- ellipsis-word ratio exactly 6/60 (runs not at line end) ----
    (
        "g_ell_word_pass",
        " ".join(_words(53)) + " " + " ".join(["..."] * 6) + " end",
        True,
        None,
    ),
    (
        "g_ell_word_fail",
        " ".join(_words(52)) + " " + " ".join(["..."] * 7) + " end",
        False,
        None,
    ),
    # --- mixed '…' chars + '...' runs at the 0.1 boundary -----------
    (
        "g_ell_mixed_pass",
        " ".join(_words(53, filler="lynx")) + " x… y… z… " + " ".join(["..."] * 3) + " end",
        True,
        None,
    ),
    # --- bullet lines exactly 9/10 = 0.9 ----------------------------
    (
        "g_bullet_pass",
        "\n".join(
            ["- " + " ".join(_words(5, filler="camel")) for _ in range(9)]
            + [" ".join(_words(6, filler="camel"))]
        ),
        True,
        None,
    ),
    (
        "g_bullet_fail",  # 19/20 = 0.95 > 0.9
        "\n".join(
            ["- " + " ".join(_words(5, filler="camel")) for _ in range(19)]
            + [" ".join(_words(6, filler="camel"))]
        ),
        False,
        None,
    ),
    # --- ellipsis-ending lines exactly 3/10 = 0.3 -------------------
    (
        "g_ell_line_pass",
        "\n".join(
            [" ".join(_words(6)) + "..." for _ in range(3)]
            + [" ".join(_words(6)) for _ in range(7)]
        ),
        True,
        None,
    ),
    (
        "g_ell_line_fail",
        "\n".join(
            [" ".join(_words(6)) + "..." for _ in range(4)]
            + [" ".join(_words(6)) for _ in range(6)]
        ),
        False,
        None,
    ),
    # --- alpha-word fraction exactly 40/50 = 0.8 --------------------
    ("g_alpha_pass", " ".join(_words(40) + ["123"] * 10), True, None),
    ("g_alpha_fail", " ".join(_words(39) + ["123"] * 11), False, None),
    # --- stopword hits exactly 2 (pass) / 1 (fail) ------------------
    ("g_stop2_pass", " ".join(["the", "and"] + [_A] * 48), True, None),
    ("g_stop1_fail", " ".join(["the"] + [_A] * 49), False, None),
    # --- C4: exactly 3 words + terminal, page at exactly 5 sentences
    (
        "c4_5sent_keep",
        "\n".join(["one two three." for _ in range(5)] + ["too short"]),
        None,
        True,
    ),
    (
        "c4_4sent_drop",
        "\n".join(["one two three." for _ in range(4)] + ["too short"]),
        None,
        False,
    ),
    # --- C4: a '...' line-ender is a terminal AND 3 sentence dots ---
    (
        "c4_multidot_keep",  # 3 + 1 + 1 = 5 sentence terminals
        "one two three...\nfour five six.\nseven eight nine.",
        None,
        True,
    ),
    # --- C4: quote terminal kept, 2-word line dropped ----------------
    (
        "c4_quote_keep",
        '\n'.join(['he said "stop now."' for _ in range(2)] + ['drop me', 'aa bb cc."'])
        + "\nmore words here.",
        None,
        True,
    ),
    # --- C4: javascript line dropped case-insensitively -------------
    (
        "c4_js_drop",  # only 4 sentences survive once the JS line dies
        "\n".join(
            ["one two three." for _ in range(4)]
            + ["enable JavaScript to continue."]
        ),
        None,
        False,
    ),
    # --- C4: lorem ipsum in KEPT text kills the page ------------------
    (
        "c4_lorem_drop",
        "\n".join(["one two three." for _ in range(5)] + ["buy Lorem Ipsum now."]),
        None,
        False,
    ),
    # --- C4 documented deviation: brace on a DROPPED line survives --
    (
        "c4_brace_dropped_line_keep",
        "\n".join(["one two three." for _ in range(5)] + ["x {"]),
        None,
        True,
    ),
    (
        "c4_brace_kept_line_drop",
        "\n".join(["one two three." for _ in range(5)] + ["aa bb {cc}."]),
        None,
        False,
    ),
]

#: quality-family twins replayed on the boundary corpus
ENTRIES = [
    "doc_gopher_rules",
    "doc_c4_clean",
    "doc_profile",
    "doc_lm_quality",
    "doc_line_dedup",
    "doc_text_stats",
    "corpus_keep_best",
]


@pytest.fixture(scope="module")
def boundary_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("boundary_sf")
    src = "/root/testdata/sf0.001"
    docs = pd.DataFrame(
        {
            "doc_id": pd.array(range(1, len(BOUNDARY_DOCS) + 1), dtype="int64"),
            "text": [t for _, t, _, _ in BOUNDARY_DOCS],
            "lang": "en",
            "source": "boundary-probe",
            "n_chars": pd.array(
                [len(t) for _, t, _, _ in BOUNDARY_DOCS], dtype="int64"
            ),
        }
    )
    con = duckdb.connect()
    con.register("docs_df", docs)
    con.execute(
        f"COPY (SELECT * FROM docs_df) TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if t != "documents" and os.path.exists(p):
            shutil.copy(p, os.path.join(out, f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def duck(boundary_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(boundary_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    yield con
    con.close()


def _flags(df, key, col):
    return {r[key]: r[col] for r in df.collect()}


def test_gopher_flags_flip_exactly_at_boundaries(spark, boundary_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    docs = load_table(spark, boundary_dir, "documents")
    names = {i + 1: n for i, (n, _, _, _) in enumerate(BOUNDARY_DOCS)}
    got = _flags(gopher_rules(docs), "doc_id", "gopher_pass")
    for doc_id, name in names.items():
        want = dict(
            (n, g) for n, _, g, _ in BOUNDARY_DOCS
        )[name]
        if want is None:
            continue
        assert got[doc_id] is want, (
            f"{name}: gopher_pass={got[doc_id]}, expected {want}"
        )


def test_c4_flags_flip_exactly_at_boundaries(spark, boundary_dir):
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    docs = load_table(spark, boundary_dir, "documents")
    names = {i + 1: n for i, (n, _, _, _) in enumerate(BOUNDARY_DOCS)}
    got = _flags(c4_line_filter(docs), "doc_id", "keep_doc")
    for doc_id, name in names.items():
        want = dict((n, c) for n, _, _, c in BOUNDARY_DOCS)[name]
        if want is None:
            continue
        assert got[doc_id] is want, (
            f"{name}: keep_doc={got[doc_id]}, expected {want}"
        )


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_on_boundary_corpus(spark, boundary_dir, duck, name, check):
    try:
        problems = check.compare(
            name,
            spark,
            duck,
            boundary_dir,
            entrymod.queries()[name],
            entrymod.oracle_sql()[name],
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
