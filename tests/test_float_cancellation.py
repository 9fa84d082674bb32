"""Catastrophic-cancellation magnitude injection over the measure
aggregates (round 9 injection class).

FP addition is not associative: Spark adds shuffle partials in
layout order, DuckDB adds serially, so with ±1e14 spikes in
``events.value`` the same SUM drifts ~0.7 ABSOLUTE across
1/3/17/32-partition layouts (measured at sf0.001) — far beyond the
6 dp twin contract.  The oracle gate only stayed green because tiny
parquet files read as ONE input partition, making Spark's
accumulation order coincide with DuckDB's — an accident of scale,
not a property.

Contract (r9): the ``finite_value`` entry gate gains a magnitude
arm — measures beyond ±``SANE_VALUE_MAX`` (1e9) are excluded like
NaN/Inf (corrupt-sensor readings; fixture values are O(10³)).
Within the bound, n·ulp summation error stays far below the 6 dp
rounding at any realistic group size.  This suite pins:

* twin agreement for every value-aggregating entry under injected
  ±1e14 spikes (the gated entries drop them; bounded-window sums
  keep them and still agree — per-group row counts are small);
* partition-layout invariance of the GATED aggregate under spikes
  (the property the arm exists to restore);
* the measured layout-dependence of an UNGATED spiked sum is
  documented in the module docstring rather than asserted — it is
  real but not deterministic enough to pin.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import panel_legs
from yelp_review_data_analysis_using_big_data_technologies_spark.functions.columns import finite_value
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES, load_table

ENTRIES = [
    "events_stats_profile",
    "events_value_mad",
    "events_value_histogram",
    "events_time_decay_profile",
    "events_ohlc_bars",
    "events_anomaly_profile",
    "events_analytics_panel",
    "events_sessionize",
    "stream_windows_panel",
    "stream_ohlc_bars",
    "events_distributed_rank",
    "salted_join_segments",
    "cdc_latest_state",
]


@pytest.fixture(scope="module")
def spikes_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("spikes_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "events":
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(event_id) % 19 = 0 THEN value + 1e14 "
                "WHEN hash(event_id) % 19 = 1 THEN value - 1e14 "
                "ELSE value END) AS value) "
                f"FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/events.parquet') "
        "WHERE abs(value) > 1e13"
    ).fetchone()[0]
    assert n > 0, "no magnitude spikes injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(spikes_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(spikes_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_magnitude_spikes(spark, spikes_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, spikes_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)


def test_gated_sum_is_partition_layout_invariant(spark, spikes_dir):
    """The property the magnitude arm restores: per-key sums of
    GATED values are bit-identical at 6 dp across 1/3/17-partition
    layouts even with spikes present in the raw data."""
    from pyspark.sql import functions as F

    ev = load_table(spark, spikes_dir, "events").filter(finite_value())
    outs = []
    for n in (1, 3, 17):
        rows = (
            ev.repartition(n)
            .groupBy("event_type")
            .agg(F.round(F.sum("value"), 6).alias("s"))
            .orderBy("event_type")
            .collect()
        )
        outs.append([(r.event_type, r.s) for r in rows])
    assert outs[0] == outs[1] == outs[2]
