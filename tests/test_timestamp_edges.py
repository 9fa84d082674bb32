"""Pre-1970 / negative-epoch / epoch-boundary injection over the
event-time twins (round 8 — class 2a of the VERDICT r7 ask).

The session runs UTC, so DST edges don't exist in session-time
semantics; the class that CAN diverge is negative-epoch arithmetic —
integer division and ``floor`` disagree on negatives (trunc-toward-
zero vs floor), and window bucketing, ``epoch_us`` extraction, and
date parts all sit on that arithmetic.  The fixture hash-shifts a
slice of ``events.ts`` to 1969 (small negative epoch) and 1904 (deep
negative, pre-Gregorian-reform-adjacent era) and plants rows exactly
AT the epoch origin and ±1 µs around it, then replays the event-time
twins through the driver-gate comparator.

The exploration run (scripts/probe_timestamp_edges.py at c84e9fc) found all 20
event-time entries already agree — both engines floor their window
buckets and truncate negative nanos identically (see
tests/test_readers.py negative-nanos pin) — so this suite pins that
agreement against regressions.
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

#: Event-time twins; panels stand in for their singles
#: (events_analytics_panel covers funnel/cohort/transition/gapfill/
#: interpolate; stream_windows_panel covers tumbling/sliding/session).
ENTRIES = [
    "cdc_latest_state",
    "cdc_scd2_history",
    "stream_windows_panel",
    "stream_joins_panel",
    "stream_incremental_matview",
    "stream_static_enrich",
    "events_sessionize",
    "events_range_join_sessions",
    "events_asof_join",
    "events_analytics_panel",
    "events_hourly_gapfill",
    "events_stats_profile",
    # r10: the CUSUM changepoint date_truncs and ranks extreme-epoch
    # hourly buckets (pre-1970 / epoch±1µs must bucket identically)
    "events_changepoint_profile",
]


@pytest.fixture(scope="module")
def ts_edges_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("ts_edges_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "events":
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(event_id) % 13 = 0 THEN ts - INTERVAL 55 YEAR "
                "WHEN hash(event_id) % 13 = 1 THEN ts - INTERVAL 120 YEAR "
                "ELSE ts END) AS ts) "
                f"FROM read_parquet('{p}') "
                "UNION ALL SELECT 9000001, TIMESTAMP '1970-01-01 00:00:00', "
                "1, 'click', 1.0, NULL "
                "UNION ALL SELECT 9000002, "
                "TIMESTAMP '1970-01-01 00:00:00' - INTERVAL 1 MICROSECOND, "
                "1, 'click', 2.0, NULL "
                "UNION ALL SELECT 9000003, "
                "TIMESTAMP '1970-01-01 00:00:00' + INTERVAL 1 MICROSECOND, "
                "2, 'view', 3.0, NULL "
                "UNION ALL SELECT 9000004, TIMESTAMP '1969-12-31 23:00:00', "
                "2, 'view', 4.0, NULL"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_neg = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/events.parquet') "
        "WHERE ts < TIMESTAMP '1970-01-01'"
    ).fetchone()[0]
    assert n_neg > 0, "no pre-1970 timestamps injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(ts_edges_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(ts_edges_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_timestamp_edges(spark, ts_edges_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, ts_edges_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
