"""Bucketized range join: containment semantics, bucket-boundary
spans, left behavior, no duplicate pairs, and cross-engine agreement
with DuckDB's inequality join.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.range_join import range_join


def _t(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def _frames(spark):
    points = spark.createDataFrame(
        [
            (1, 1, _t(10, 30)),
            (2, 1, _t(11, 30)),
            (3, 1, _t(23, 0)),
            (4, 2, _t(10, 30)),
        ],
        "pid long, user_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (100, 1, _t(10), _t(11)),  # contains pid 1 (user 1)
            (101, 1, _t(10, 45), _t(12)),  # contains pid 2; pid 1 excluded
            (102, 2, _t(9), _t(23)),  # long span, contains pid 4
        ],
        "iid long, user_id long, win_start timestamp, win_end timestamp",
    )
    return points, intervals


def test_containment_and_key_scoping(spark):
    points, intervals = _frames(spark)
    got = {
        (r.pid, r.iid)
        for r in range_join(points, intervals).collect()
    }
    assert got == {(1, 100), (2, 101), (4, 102)}


def test_closed_bounds_and_multi_bucket_span(spark):
    points, intervals = _frames(spark)
    # exact-boundary point: start and end are inclusive
    edge = spark.createDataFrame(
        [(9, 1, _t(10)), (10, 1, _t(11))], "pid long, user_id long, ts timestamp"
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(edge, intervals).collect()
    }
    assert (9, 100) in got and (10, 100) in got
    # a 14h interval spans many 30-minute buckets yet each pair appears once
    wide = range_join(points, intervals).collect()
    assert len(wide) == len({(r.pid, r.iid) for r in wide})


def test_column_clash_raises(spark):
    points, _ = _frames(spark)
    with pytest.raises(ValueError, match="disjoint"):
        range_join(points, points)


def test_matches_duckdb_inequality_join(spark, smoke_dir):
    import duckdb

    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.windows import sessionize

    events = load_table(spark, smoke_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    sessions = sessionize(
        events.filter(F.col("event_type") == "click")
    ).select("user_id", "session_start", "last_ts")
    got = {
        (r.event_id, r.session_start)
        for r in range_join(
            errors,
            sessions.withColumn("win_start", F.col("session_start")).withColumn(
                "win_end", F.col("last_ts")
            ),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{smoke_dir}/events.parquet')"
    )
    expected = set(
        tuple(row)
        for row in con.execute(
            """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events WHERE event_type = 'click'
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), g AS (
              SELECT user_id, ts,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
              FROM o
            ), s AS (
              SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts
              FROM g GROUP BY user_id, sid
            )
            SELECT e.event_id, s.session_start
            FROM events e JOIN s
              ON e.user_id = s.user_id
             AND e.ts BETWEEN s.session_start AND s.last_ts
            WHERE e.event_type = 'error'
            """
        ).fetchall()
    )
    assert got == expected
