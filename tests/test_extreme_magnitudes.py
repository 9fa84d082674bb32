"""Extreme-magnitude injection: corrupt count metadata + oversized
documents (round 8 — extra injection class).

The exploration run (scripts/probe_extreme_magnitudes.py at c84e9fc, 21k-token
giant doc) found ONE real defect: ``pipeline_split_panel`` JOB-ABORTED
on Spark (ANSI ARITHMETIC_OVERFLOW — two corrupt 5e18 ``n_chars`` rows
overflow any BIGINT sum) while DuckDB silently promoted to HUGEINT —
the worst divergence class, abort vs wrong-dtype answer.  Fix (pinned
here): the ``SANE_CHARS_MAX`` metadata-sanity arm — out-of-bounds
(negative or >4e12) char counts sum as NULL in both engines; the doc
still counts in ``n_docs``.  Overflow now needs >9 exabytes of REAL
text in one group.

All other magnitude paths agreed, including a giant document through
every text operator (token counts, fingerprints, shingles, LSH,
TF-IDF).  The pinned fixture uses a 2k-token giant (10× fixture norm):
the DuckDB twins build shingles with per-element list indexing in a
lambda — QUADRATIC in tokens — so the 21k probe doc costs the ORACLE
minutes (documented oracle ceiling, not an engine defect; the Spark
side is linear).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

ENTRIES = [
    "pipeline_split_panel",
    "doc_weighted_sample",
    "doc_profile",
    "doc_pack_bins",
    "doc_chunk_dedup",
    "doc_text_stats",
    "doc_token_counts",
    "doc_tfidf_top_terms",
    "doc_exact_dedup",
    "doc_near_dup_banded",
    # r10: the drift family over events.value carrying ±1e300 / 1e15 /
    # 1e-300 (quantile edges, CDF comparisons, margins), the exact-
    # decimal OLS (out-of-domain |y| >= 1e12 must DROP identically in
    # both engines, not abort the ANSI decimal cast), and the value-
    # windowed interval overlap
    "events_psi_drift",
    "events_ks_drift",
    "events_chi2_drift",
    "events_trend_regression",
    "events_interval_overlap",
]


@pytest.fixture(scope="module")
def magnitude_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("magnitude_sf")
    con = duckdb.connect()
    giant = " ".join(
        f"tok{i % 97} word{i % 89} item{i % 53}" for i in range(700)
    )
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "documents":
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(doc_id) % 19 = 0 THEN -42 "
                "WHEN hash(doc_id) % 19 = 1 THEN 5000000000000000000 "
                "ELSE n_chars END) AS n_chars) "
                f"FROM read_parquet('{p}') "
                "UNION ALL "
                f"SELECT 9100001, '{giant}', 'en', 'src0', {len(giant)}"
            )
        elif t == "events":
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(event_id) % 23 = 0 THEN 1e300 "
                "WHEN hash(event_id) % 23 = 1 THEN -1e300 "
                "WHEN hash(event_id) % 23 = 2 THEN 1e15 "
                "WHEN hash(event_id) % 23 = 3 THEN 1e-300 "
                "ELSE value END) AS value) "
                f"FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_bad = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/documents.parquet') "
        "WHERE n_chars < 0 OR n_chars > 4000000000000"
    ).fetchone()[0]
    assert n_bad > 2, "magnitude injection too sparse"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(magnitude_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(magnitude_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_extreme_magnitudes(
    spark, magnitude_dir, duck, name, check
):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    try:
        problems = check.compare(
            name, spark, duck, magnitude_dir, queries[name], oracles[name]
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
