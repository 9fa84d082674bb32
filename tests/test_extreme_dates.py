"""Extreme-calendar-date injection pass (round 8, class j — the DATE
sibling of tests/test_timestamp_edges.py).

Garbage dates real feeds carry — year-1 placeholders, days inside the
1582 Gregorian-cutover gap, one past the ``datetime64[ns]`` ceiling
(2262-04-12), the 9999-12-31 sentinel — hash-injected into
``orders.o_orderdate`` and replayed through every twin whose oracle
references the column.  Divergence candidates this pins:

- the driver's pandas hash layer: Spark DATE → object dtype of
  ``datetime.date`` (unbounded), DuckDB DATE → ``datetime64[us]``
  (9999 survives; ns would not) — representations differ, the gate's
  dtype guard and value compare must still hold;
- proleptic-Gregorian ``year``/``month``/``dayname``: engines that
  implement the historical cutover disagree on day-of-week for
  everything before 1582-10-15 (both engines here are proleptic —
  pinned by the 1582-10-05 fixture, a date that never existed
  historically);
- year-boundary day-of-week cycle arithmetic (0001-01-01).

Exploration run: scripts/probe_extreme_dates.py at c84e9fc — all 10 twins
agreed; this suite pins that agreement.
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

#: (modulus-class, replacement DATE literal)
_DIRTY = [
    (0, "DATE '0001-01-01'"),
    (1, "DATE '1582-10-05'"),   # inside the Gregorian cutover gap
    (2, "DATE '2262-04-12'"),   # one past the datetime64[ns] ceiling
    (3, "DATE '9999-12-31'"),   # the classic sentinel
]

#: Every twin whose oracle references o_orderdate.  The two
#: roundtrip entries push the extreme dates through parquet sinks
#: (partitioned by derived year) as well.
ENTRIES = [
    "master_table",
    "na_drop",
    "dashboard_yearly_trend",
    "dashboard_day_of_week",
    "dashboard_most_active_day",
    "window_trend_panel",
    "dashboard_pivot_priority",
    "dashboard_tiles",
    "table_maintenance_roundtrip",
    "master_table_partitioned_roundtrip",
]


@pytest.fixture(scope="module")
def dates_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("extreme_dates_sf")
    con = duckdb.connect()
    whens = " ".join(
        f"WHEN hash(o_orderkey) % 19 = {k} THEN {lit}" for k, lit in _DIRTY
    )
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "orders":
            sel = (
                f"SELECT * REPLACE ((CASE {whens} ELSE o_orderdate END) "
                f"AS o_orderdate) FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/orders.parquet') "
        "WHERE o_orderdate < DATE '1800-01-01' "
        "   OR o_orderdate > DATE '2200-01-01'"
    ).fetchone()[0]
    assert n > 0, "extreme-date injection replaced nothing"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(dates_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(dates_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_extreme_dates(spark, dates_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, dates_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)


def test_pandas_representations_are_the_known_pair(spark):
    """Census pin: a year-9999 DATE reaches pandas as object-of-date
    from Spark and datetime64[us] from DuckDB — the exact mixed pair
    the gate's dtype guard allows.  If either representation shifts
    (e.g. DuckDB back to ns, which would OVERFLOW on 9999), this
    fails before a driver round does."""
    pdf = spark.sql("SELECT DATE '9999-12-31' AS d").toPandas()
    assert pdf["d"].dtype == object
    ddf = duckdb.connect().execute("SELECT DATE '9999-12-31' AS d").df()
    assert str(ddf["d"].dtype).startswith("datetime64")
    assert str(pdf["d"].iloc[0]) == "9999-12-31"
    assert str(ddf["d"].iloc[0]).startswith("9999-12-31")
