"""Non-finite measure injection over the events twins (round 7).

NaN/±Infinity measurements (sensor glitches, bad upstream math) are a
dirty-data class the NULL gate cannot see, and probing found three
real failures: the value histogram JOB-ABORTED under ANSI (floor of a
huge ratio overflowed the int cast), DuckDB's ``stddev_samp`` raised
``Out of Range`` on Inf where Spark returned NaN, and the MAD
diverged (Spark's median skips NaN, DuckDB's propagates it).  The
moment/order-statistic/histogram entries now share a finite-only
entry filter (``functions.columns.finite_value`` / ``FINITE_VALUE_SQL``) that keeps
NULL rows — a no-op on every clean and NULL-injected fixture — and
this suite replays them over a fixture with NaN/+Inf/-Inf
hash-injected into ``events.value``.
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



ENTRIES = [
    # vector family under NaN/Inf/NULL vector COMPONENTS (finite_vec /
    # VEC_OK_SQL entry exclusion, r7)
    "vec_top_k_bruteforce",
    "vec_top_k_ann_signlsh",
    "vec_top_k_ann_ivf",
    "vec_cosine_near_dup_pinned",
    "vec_centroid_distance",
    "vec_quantize_int8",
    "vec_ivf_index_search",
    "vec_ann_exhaustive_equiv",
    "corpus_semantic_dedup",
    "events_stats_profile",
    "events_value_mad",
    "events_value_histogram",
    "events_analytics_panel",
    "dashboard_tiles",
    "cdc_latest_state",
    "events_time_decay_profile",
    "stream_windows_panel",
    # r9 newcomers: both filter non-finite values up front
    "events_ohlc_bars",
    "events_anomaly_profile",
    "events_equidepth_histogram",
]


@pytest.fixture(scope="module")
def nonfinite_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("nonfinite_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "events":
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(event_id) % 41 = 0 THEN 'nan'::DOUBLE "
                "WHEN hash(event_id) % 41 = 1 THEN 'infinity'::DOUBLE "
                "WHEN hash(event_id) % 41 = 2 THEN '-infinity'::DOUBLE "
                f"ELSE value END) AS value) FROM read_parquet('{p}')"
            )
        elif t == "embeddings":
            # NaN / Inf / NULL COMPONENTS inside otherwise-valid vectors
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(vec_id) % 29 = 0 THEN list_transform(embedding, "
                "(x, i) -> CASE WHEN i = 1 THEN 'nan'::FLOAT ELSE x END) "
                "WHEN hash(vec_id) % 29 = 1 THEN list_transform(embedding, "
                "(x, i) -> CASE WHEN i = 2 THEN 'infinity'::FLOAT ELSE x END) "
                "WHEN hash(vec_id) % 29 = 2 THEN list_transform(embedding, "
                "(x, i) -> CASE WHEN i = 3 THEN NULL ELSE x END) "
                f"ELSE embedding END) AS embedding) FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_bad = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/events.parquet') "
        "WHERE NOT isfinite(value)"
    ).fetchone()[0]
    assert n_bad > 0, "no non-finite values injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(nonfinite_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(nonfinite_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_nonfinite_values(spark, nonfinite_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, nonfinite_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
