"""As-of join semantics: backward/forward direction, tie handling,
tolerance nulling, left-outer behavior, and duplicate-right dedup.
"""

import datetime as dt

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.asof import asof_join


def _ts(minute):
    return dt.datetime(2024, 1, 1, 12, minute)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), "a"),
            (1, _ts(20), "b"),
            (1, _ts(5), "early"),
            (2, _ts(10), "other-user"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(8), 100.0),
            (1, _ts(10), 200.0),
            (1, _ts(15), 300.0),
        ],
        "user_id long, ts timestamp, price double",
    )
    return left, right


def test_backward_matches_latest_at_or_before(spark):
    left, right = _frames(spark)
    out = {
        r.tag: (r.asof_ts, r.asof_price)
        for r in asof_join(left, right).collect()
    }
    assert out["a"] == (_ts(10), 200.0)  # tie at :10 matches
    assert out["b"] == (_ts(15), 300.0)  # latest before :20
    assert out["early"] == (None, None)  # nothing at or before :05
    assert out["other-user"] == (None, None)  # no right rows for user 2


def test_duplicate_right_rows_resolve_deterministically(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "x")], "user_id long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, _ts(9), 1.0), (1, _ts(9), 2.0)],
        "user_id long, ts timestamp, price double",
    )
    out = asof_join(left, right).collect()
    assert len(out) == 1
    assert out[0].asof_price == 2.0  # max payload survives the dedup


def test_matches_duckdb_asof_on_events(spark, smoke_dir):
    """Cross-engine: Spark asof_join == DuckDB native ASOF LEFT JOIN."""
    import duckdb

    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    events = load_table(spark, smoke_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    got = {
        r.event_id: (r.asof_ts, r.asof_value)
        for r in asof_join(clicks, purchases).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{smoke_dir}/events.parquet')"
    )
    expected = {
        row[0]: (row[1], row[2])
        for row in con.execute(
            """
            WITH c AS (SELECT event_id, user_id, ts, value FROM events
                       WHERE event_type = 'click'),
                 p AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'purchase')
            SELECT c.event_id, p.ts, p.value
            FROM c ASOF LEFT JOIN p
              ON c.user_id = p.user_id AND c.ts >= p.ts
            """
        ).fetchall()
    }
    assert set(got) == set(expected)
    mismatches = {k for k in got if got[k] != expected[k]}
    assert not mismatches, f"{len(mismatches)} mismatching matches"


def test_property_backward_asof_matches_python_reference(spark):
    """Property check: for randomized event times, the operator's
    backward match equals the brute-force python argmax."""
    import random

    rng = random.Random(7)
    users = [1, 2, 3]
    left_rows = [
        (i, rng.choice(users), _ts(rng.randrange(0, 60)))
        for i in range(40)
    ]
    right_rows = [
        (rng.choice(users), _ts(rng.randrange(0, 60)), float(i))
        for i in range(25)
    ]
    left = spark.createDataFrame(
        left_rows, "pid long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        right_rows, "user_id long, ts timestamp, price double"
    )
    got = {
        r.pid: (r.asof_ts, r.asof_price)
        for r in asof_join(left, right).collect()
    }

    # python reference with the operator's dedup rule (max payload per
    # (user, ts)) and backward tie-inclusive semantics
    best = {}
    for u, t, p in right_rows:
        k = (u, t)
        best[k] = max(best.get(k, p), p)
    for pid, u, t in left_rows:
        cands = [(rt, pv) for (ru, rt), pv in best.items() if ru == u and rt <= t]
        expected = max(cands) if cands else (None, None)
        assert got[pid] == expected, f"pid={pid}"
