"""Boundary-tie injection over the time-join/window twins (round 9).

Every time operator carries an inclusivity contract: window buckets
are [start, end), sessions MERGE on a gap exactly equal to the
timeout (only strictly-greater breaks), the as-of join takes quotes
at-or-before the event, range joins include their endpoints, and
same-timestamp duplicates force every argmin/argmax tie rule to
actually fire.  The clean fixtures land between boundaries, so none
of those contracts had ever been exercised cross-engine.  The
fixture snaps event times exactly onto hour/minute boundaries,
manufactures user-adjacent pairs separated by EXACTLY the 30-minute
session gap, and appends same-timestamp duplicate rows under fresh
event ids.

The exploration run (scripts/probe_boundary_ties.py at c84e9fc) found ONE real
defect: ``events_asof_join`` diverged under same-instant duplicate
quotes — the Spark operator collapses duplicate (by, on) right rows
to the greatest payload (its documented duplicate-right contract),
but the oracle fed RAW duplicates to DuckDB's native ASOF, which
picks an arbitrary one.  Fix: the twin now mirrors the dedup
(GROUP BY user_id, ts → max(value)) — pinned here along with the
agreement of the other 22 event-time entries.
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

#: the tie-sensitive core; panels stand in for their singles
ENTRIES = [
    "events_sessionize",
    "events_asof_join",
    "events_range_join_sessions",
    "events_interpolate_join",
    "events_hourly_gapfill",
    "events_ohlc_bars",
    "events_analytics_panel",
    "events_session_attribution",
    "events_heavy_hitters",
    "events_time_decay_profile",
    "events_anomaly_profile",
    "stream_windows_panel",
    "stream_joins_panel",
    "stream_ohlc_bars",
    "cdc_latest_state",
    "cdc_scd2_history",
    "dedup_keyed_deterministic",
]


@pytest.fixture(scope="module")
def boundary_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("boundary_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "events":
            sel = f"""
WITH snapped AS (
  SELECT * REPLACE ((CASE
    WHEN hash(event_id) % 7 = 0 THEN date_trunc('hour', ts)
    WHEN hash(event_id) % 11 = 0 THEN date_trunc('minute', ts)
    ELSE ts END) AS ts)
  FROM read_parquet('{p}')
), gapped AS (
  SELECT * EXCLUDE (lg) REPLACE ((CASE
    WHEN hash(event_id) % 13 = 0 AND lg IS NOT NULL
    THEN lg + INTERVAL 30 MINUTE
    ELSE ts END) AS ts)
  FROM (
    SELECT *, lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS lg
    FROM snapped
  )
)
SELECT * FROM gapped
UNION ALL
SELECT event_id + 10000000, ts, user_id, event_type, value + 0.5, props
FROM gapped WHERE hash(event_id) % 17 = 0
"""
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    gap_pairs = con.execute(
        f"""
SELECT count(*) FROM (
  SELECT ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS d
  FROM read_parquet('{out}/events.parquet')
) WHERE d = INTERVAL 30 MINUTE
"""
    ).fetchone()[0]
    dup_ts = con.execute(
        f"SELECT count(*) - count(DISTINCT (user_id, ts)) "
        f"FROM read_parquet('{out}/events.parquet')"
    ).fetchone()[0]
    assert gap_pairs > 0, "no exact-gap pairs injected"
    assert dup_ts > 0, "no same-(user, ts) duplicates injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(boundary_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(boundary_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_boundary_ties(spark, boundary_dir, duck, name, check):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    try:
        problems = check.compare(
            name, spark, duck, boundary_dir, queries[name], oracles[name]
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
