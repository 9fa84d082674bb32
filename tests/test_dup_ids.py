"""Duplicate / NULL primary-id injection over survivor-selection twins
(round 8 — extra injection class beyond the three VERDICT asks).

Every dedup/CDC survivor pick tie-breaks on the table's id column,
which the clean fixtures guarantee unique.  Real data does not:
replayed loads duplicate ids, and NULL ids appear after bad joins.
The exploration run (scripts/probe_dup_ids.py at c84e9fc) found TWO real
defects, both fixed and pinned here:

- ``doc_pack_bins``: NULL doc_ids silently fell out of the Spark plan
  at the bucket equi-join while the naive-window oracle kept them
  (561 vs 563 rows).  Contract now: NULL ids are not packable — both
  engines filter them explicitly; duplicate ids pack deterministically
  via an (id, n_tokens) window order.
- ``cdc_scd2_history``: with duplicate event_ids the (ts, event_id)
  window order had REAL ties, and the engines paired values with
  validity intervals in different orders.  The tiebreak now extends
  to the full row (event_type, value).

The fixture duplicates a hash-chosen id slice with DIFFERENT payload
(text suffix / value bump) and adds NULL-id rows.
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
    "doc_exact_dedup",
    "doc_normalized_dedup",
    "doc_near_dup_removal",
    "corpus_clean_pipeline",
    "corpus_keep_best",
    "doc_dup_clusters_panel",
    "doc_dedup_delta",
    "pipeline_split_panel",
    "doc_weighted_sample",
    "doc_pack_bins",
    "cdc_latest_state",
    "cdc_scd2_history",
    # r8 cdc-replay probe additions: the version-guarded merge's
    # (user_id, ts) tie-collapse contract under duplicate/NULL ids,
    # and the matview's delivery split — a bare pmod(event_id, 3)
    # wave predicate silently never delivered NULL-id events while
    # the full-recompute oracle counted them (fixed: coalesce(..., 0)
    # keeps the split total; scripts/probe_cdc_replay.py at c84e9fc)
    "cdc_out_of_order_merge",
    "stream_incremental_matview",
    "dedup_keyed_deterministic",
    "dedup_full_row",
    "events_sessionize",
    "events_transition_matrix",
    "events_analytics_panel",
]


@pytest.fixture(scope="module")
def dup_ids_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("dup_ids_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "documents":
            sel = (
                f"SELECT * FROM read_parquet('{p}') "
                "UNION ALL "
                "SELECT doc_id, text || ' replay', lang, source, n_chars + 7 "
                f"FROM read_parquet('{p}') WHERE hash(doc_id) % 11 = 0 "
                "UNION ALL SELECT NULL, 'orphan row one', 'en', 'src0', 14 "
                "UNION ALL SELECT NULL, 'orphan row two', 'de', 'src1', 14"
            )
        elif t == "events":
            sel = (
                f"SELECT * FROM read_parquet('{p}') "
                "UNION ALL "
                "SELECT event_id, ts, user_id, event_type, value + 0.5, props "
                f"FROM read_parquet('{p}') WHERE hash(event_id) % 13 = 0 "
                "UNION ALL SELECT NULL, TIMESTAMP '2024-01-15 12:00:00', 1, "
                "'click', 1.0, NULL"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_dup = con.execute(
        f"SELECT count(*) - count(DISTINCT doc_id) "
        f"FROM read_parquet('{out}/documents.parquet') WHERE doc_id IS NOT NULL"
    ).fetchone()[0]
    assert n_dup > 0, "no duplicate ids injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(dup_ids_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(dup_ids_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_dup_ids(spark, dup_ids_dir, duck, name, check):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    try:
        problems = check.compare(
            name, spark, duck, dup_ids_dir, queries[name], oracles[name]
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
