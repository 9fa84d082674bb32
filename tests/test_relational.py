from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import (
    dedup,
    dedup_keyed_deterministic,
    drop_nulls,
    duplicate_rows,
    equi_join,
    grouped_top_k,
    rename_columns,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_rename_columns(spark):
    df = _df(spark, [(1, "a")], "id int, name string")
    out = rename_columns(df, {"name": "b_name"})
    assert out.columns == ["id", "b_name"]


def test_dedup_full_row(spark):
    df = _df(spark, [(1, "a"), (1, "a"), (2, "b")], "id int, v string")
    assert dedup(df).count() == 2


def test_dedup_keyed_deterministic_picks_min_payload(spark):
    df = _df(spark, [(1, "z"), (1, "a"), (2, "q")], "id int, v string")
    out = {(r.id, r.v) for r in dedup_keyed_deterministic(df, ["id"]).collect()}
    assert out == {(1, "a"), (2, "q")}


def test_duplicate_rows_diagnostic(spark):
    df = _df(
        spark,
        [(1, 1, "a"), (1, 1, "b"), (1, 2, "c"), (2, 1, "d")],
        "l_orderkey int, l_linenumber int, v string",
    )
    rows = duplicate_rows(df).collect()
    assert [(r.l_orderkey, r.l_linenumber, r["count"]) for r in rows] == [(1, 1, 2)]


def test_drop_nulls_any_column(spark):
    df = _df(spark, [(1, None), (None, "b"), (2, "c")], "id int, v string")
    assert drop_nulls(df).count() == 1


def test_join_family(spark):
    left = _df(spark, [(1, "x"), (2, "y"), (3, "z")], "k int, lv string")
    right = _df(spark, [(1, "A"), (1, "B"), (2, "C")], "k int, rv string")
    assert equi_join(left, right, on="k").count() == 3  # fan-out on k=1
    assert equi_join(left, right, on="k", how="left_semi").count() == 2  # no fan-out
    assert [r.k for r in equi_join(left, right, on="k", how="left_anti").collect()] == [3]


def test_inner_join_drops_orphans(spark):
    # the reference's silent row loss (scripts/etl.py:46-48)
    review = _df(spark, [("r1", "u1"), ("r2", "ghost")], "review_id string, user_id string")
    user = _df(spark, [("u1",)], "user_id string")
    joined = equi_join(review, user, on="user_id")
    assert [r.review_id for r in joined.collect()] == ["r1"]


def test_grouped_top_k(spark):
    df = _df(spark, [("a", 3), ("a", 1), ("b", 5), ("b", 2)], "g string, v int")
    out = grouped_top_k(df, ["g"], [F.desc("v")], 1)
    assert {(r.g, r.v) for r in out.collect()} == {("a", 3), ("b", 5)}


def test_latest_by_keeps_greatest_and_breaks_ties(spark):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import latest_by

    df = spark.createDataFrame(
        [
            (1, 10, 0, "old"),
            (1, 20, 0, "new"),
            (2, 5, 0, "a"),
            (2, 5, 0, "b"),  # tie on order cols -> greatest payload wins
        ],
        "user_id long, ts long, event_id long, payload string",
    )
    out = {r.user_id: (r.ts, r.payload) for r in latest_by(df).collect()}
    assert out == {1: (20, "new"), 2: (5, "b")}


class TestMadUdaf:
    def test_mad_matches_numpy(self, spark):
        import numpy as np

        from yelp_review_data_analysis_using_big_data_technologies_spark.functions.udafs import (
            median_abs_deviation,
        )
        from pyspark.sql import functions as F

        vals = [1.0, 2.0, 4.0, 7.0, 11.0]
        df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
        got = df.groupBy("g").agg(median_abs_deviation("v").alias("m")).collect()[0].m
        arr = np.array(vals)
        expect = float(np.median(np.abs(arr - np.median(arr))))
        assert got == expect

    def test_mad_empty_after_null_drop_is_null(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.functions.udafs import (
            median_abs_deviation,
        )

        df = spark.createDataFrame(
            [("g", None)], "g string, v double"
        )
        got = df.groupBy("g").agg(median_abs_deviation("v").alias("m")).collect()[0].m
        assert got is None


class TestScd2Intervals:
    def test_intervals_chain_half_open(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import scd2_intervals

        df = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", 1, "a", 0.0),
                (1, "2024-01-02 00:00:00", 2, "b", 0.0),
                (1, "2024-01-03 00:00:00", 3, "c", 0.0),
                (2, "2024-01-05 00:00:00", 4, "x", 0.0),
            ],
            "user_id long, ts string, event_id long, event_type string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        rows = sorted(
            scd2_intervals(df).collect(),
            key=lambda r: (r.user_id, r.valid_from),
        )
        # chained: each version's valid_to equals the next valid_from
        assert rows[0].valid_to == rows[1].valid_from
        assert rows[1].valid_to == rows[2].valid_from
        # latest per key is open-ended and current
        assert rows[2].valid_to is None and rows[2].is_current
        assert rows[3].valid_to is None and rows[3].is_current
        assert not rows[0].is_current and not rows[1].is_current

    def test_tiebreak_orders_simultaneous_changes(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import scd2_intervals

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 2, "late", 0.0),
             (1, "2024-01-01 00:00:00", 1, "early", 0.0)],
            "user_id long, ts string, event_id long, event_type string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        rows = {r.event_id: r for r in scd2_intervals(df).collect()}
        assert rows[1].valid_to == rows[2].valid_from  # event_id asc order
        assert rows[2].is_current and not rows[1].is_current


class TestConstraintChecks:
    def test_all_primitives_count_correctly(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.operators.constraints import (
            accepted_values_violations,
            constraints_report,
            fk_violations,
            not_null_violations,
            unique_violations,
        )

        child = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "a"), (None, "c"), (9, "z")],
            "k long, v string",
        )
        parent = spark.createDataFrame([(1,), (2,)], "pk long")
        rep = {
            r.rule: r.violations
            for r in constraints_report(
                [
                    # k=1 occurs twice -> both rows count
                    unique_violations(child, ["k"], "u"),
                    # k=9 is the only orphan (dbt convention: the
                    # NULL child key is ignored by default)
                    fk_violations(child, "k", parent, "pk", "fk"),
                    # 'z' outside list; NULL would not count
                    accepted_values_violations(
                        child, "v", ["a", "b", "c"], "av"
                    ),
                    not_null_violations(child.withColumnRenamed("k", "c_name")),
                ]
            ).collect()
        }
        assert rep == {"u": 2, "fk": 1, "av": 1, "not_null:customer.c_name": 1}

    def test_clean_table_reports_zeroes(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.operators.constraints import (
            constraints_report,
            unique_violations,
        )

        df = spark.createDataFrame([(1,), (2,)], "k long")
        rows = constraints_report(
            [unique_violations(df, ["k"], "u")]
        ).collect()
        assert [(r.rule, r.violations) for r in rows] == [("u", 0)]
