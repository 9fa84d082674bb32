"""Signed-zero injection over the rounded measure twins (round 9).

IEEE-754 has two zeros and the engines disagree about which one
survives arithmetic: Spark NORMALIZES -0.0 to +0.0 in round(), min()
and least() outputs (BigDecimal round-trip / UnsafeRow
normalization), while DuckDB PRESERVES the sign bit — so
``round(-1e-9, 6)`` is +0.0 on Spark and -0.0 on DuckDB.  The
driver's pandas hash distinguishes the byte patterns
(``hash_pandas_object(-0.0) != hash_pandas_object(0.0)``), but
Python's ``==`` does NOT, which made the local gate blind to the
class until ``check_oracle._normalize`` learned to encode the sign
bit (pinned in tests/test_check_oracle.py).

The exploration run (scripts/probe_signed_zero.py at c84e9fc) found EIGHT
diverging twins — every rounded sum/avg/min/max/lerp column fed a
tiny negative: stats profile, OHLC (batch + streaming), analytics
panel, sessionize, interpolate join, both stream window count twins.
Fix: the affected DuckDB twin columns append ``+ 0``
(IEEE: -0.0 + 0 = +0.0; exact no-op on every other finite value and
NULL), matching Spark's normalization.  This suite replays the
fixture — exact -0.0 plus tiny negatives that round to zero at 2 and
6 dp — through every measure twin under the hardened comparator.
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
    "events_stats_profile",
    "events_value_mad",
    "events_value_histogram",
    "events_time_decay_profile",
    "events_ohlc_bars",
    "events_anomaly_profile",
    "events_analytics_panel",
    "events_sessionize",
    "events_asof_join",
    "events_interpolate_join",
    "stream_windows_panel",
    "stream_ohlc_bars",
    "stream_tumbling_counts",
    "events_distributed_rank",
    "salted_join_segments",
    "cdc_latest_state",
    "dashboard_tiles",
]


@pytest.fixture(scope="module")
def zeros_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("zeros_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "events":
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(event_id) % 23 = 0 THEN -0.0 "
                "WHEN hash(event_id) % 23 = 1 THEN -1e-9 "
                "WHEN hash(event_id) % 23 = 2 THEN -4e-7 "
                "WHEN hash(event_id) % 23 = 3 THEN -4e-3 "
                "ELSE value END) AS value) "
                f"FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/events.parquet') "
        "WHERE value <= 0 AND value > -1"
    ).fetchone()[0]
    assert n > 0, "no signed-zero/tiny-negative rows injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(zeros_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(zeros_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_signed_zeros(spark, zeros_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, zeros_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
