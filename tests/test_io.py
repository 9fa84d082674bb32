"""Write-path + ingest round-trips (SURVEY.md §2.1 S1, S3–S5, S7):
parquet partitionBy → re-read → content equality, CSV header export,
coalesce behavior, path validation, and the reference's step-one
JSON→Parquet staging flow with explicit schemas.
"""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table, read_csv, read_json
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_csv, write_parquet

#: Explicit schemas for the Yelp-shaped JSON inputs of the reference's
#: staging step — what ``spark.read.json`` inference would produce
#: (FIXTURES.md §A), declared so the read is single-pass.  Only the
#: kept columns plus the raw extras the reference renames; the nested
#: ``attributes``/``hours`` structs are dropped (SURVEY.md §1).
BUSINESS_SCHEMA = T.StructType(
    [
        T.StructField("business_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("stars", T.DoubleType()),
        T.StructField("review_count", T.LongType()),
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("categories", T.StringType()),
    ]
)
REVIEW_SCHEMA = T.StructType(
    [
        T.StructField("review_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("business_id", T.StringType()),
        T.StructField("stars", T.DoubleType()),
        T.StructField("useful", T.LongType()),
        T.StructField("funny", T.LongType()),
        T.StructField("cool", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("date", T.StringType()),
    ]
)
USER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("review_count", T.LongType()),
        T.StructField("fans", T.LongType()),
        T.StructField("useful", T.LongType()),
        T.StructField("funny", T.LongType()),
        T.StructField("cool", T.LongType()),
    ]
)
YELP_SCHEMAS = {
    "business": BUSINESS_SCHEMA,
    "review": REVIEW_SCHEMA,
    "user": USER_SCHEMA,
}


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.fixture(scope="module")
def orders(spark, smoke_dir):
    return load_table(spark, smoke_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )


class TestParquetSink:
    def test_partitioned_roundtrip_preserves_content(self, spark, orders, tmp_path):
        out = str(tmp_path / "orders_by_year")
        write_parquet(orders, out, partition_by=["o_year"])
        back = spark.read.parquet(out)
        assert sorted(back.columns) == sorted(orders.columns)
        assert _rows(back.select(*sorted(orders.columns))) == _rows(
            orders.select(*sorted(orders.columns))
        )

    def test_partition_pruning_reads_one_dir(self, spark, orders, tmp_path):
        out = str(tmp_path / "orders_pruned")
        write_parquet(orders, out, partition_by=["o_year"])
        one_year = spark.read.parquet(out).filter(F.col("o_year") == 1995)
        plan = one_year._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the scan, not a post-scan Filter
        assert "PartitionFilters: [" in plan and "o_year" in plan.split("PartitionFilters")[1][:120]
        assert one_year.count() == orders.filter("o_year = 1995").count()

    def test_path_validation(self, orders):
        with pytest.raises(ValueError):
            write_parquet(orders, "   ")

    def test_merge_schema_reconciles_evolved_batches(self, spark, tmp_path):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import read_parquet

        out = str(tmp_path / "evolving")
        gen1 = spark.createDataFrame([(1, "a")], "id long, name string")
        gen2 = spark.createDataFrame(
            [(2, "b", 9.5)], "id long, name string, score double"
        )
        gen1.write.mode("append").parquet(out)
        gen2.write.mode("append").parquet(out)
        merged = read_parquet(spark, out, merge_schema=True)
        assert sorted(merged.columns) == ["id", "name", "score"]
        rows = {r.id: r.score for r in merged.collect()}
        assert rows == {1: None, 2: 9.5}


class TestCsvSink:
    def test_header_roundtrip(self, spark, orders, tmp_path):
        out = str(tmp_path / "orders_csv")
        slim = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        write_csv(slim, out)
        back = read_csv(
            spark,
            out,
            schema="o_orderkey long, o_orderstatus string, o_totalprice double",
        )
        assert _rows(back) == _rows(slim)

    def test_path_validation(self, orders):
        with pytest.raises(ValueError):
            write_csv(orders, "")


class TestOrcSink:
    def test_partitioned_roundtrip_preserves_content(self, spark, orders, tmp_path):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_orc

        out = str(tmp_path / "orders_orc")
        write_orc(orders, out)
        back = spark.read.orc(out)
        assert sorted(back.columns) == sorted(orders.columns)
        assert _rows(back.select(*sorted(orders.columns))) == _rows(
            orders.select(*sorted(orders.columns))
        )

    def test_predicate_pushdown_reaches_scan(self, spark, orders, tmp_path):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_orc

        out = str(tmp_path / "orders_orc_pushdown")
        write_orc(orders, out)
        plan = (
            spark.read.orc(out)
            .filter(F.col("o_orderkey") == 7)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:120]

    def test_path_validation(self, orders):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_orc

        with pytest.raises(ValueError):
            write_orc(orders, " ")


class TestJsonIngest:
    """The reference's step one: JSON-lines → Parquet staging
    (scripts/etl.py:21-27), with explicit schemas instead of inference."""

    def test_jsonl_to_parquet_staging(self, spark, tmp_path):
        src = tmp_path / "review.json"
        rows = [
            {"review_id": "r1", "user_id": "u1", "business_id": "b1",
             "stars": 4.0, "useful": 1, "funny": 0, "cool": 2,
             "text": "great", "date": "2021-01-03"},
            {"review_id": "r2", "user_id": "u2", "business_id": "b2",
             "stars": 2.0, "useful": 0, "funny": 0, "cool": 0,
             "text": "meh", "date": "2021-02-04"},
        ]
        src.write_text("\n".join(json.dumps(r) for r in rows))

        df = read_json(spark, str(src), schema=REVIEW_SCHEMA)
        assert df.schema == REVIEW_SCHEMA
        assert df.count() == 2

        staged = str(tmp_path / "staged")
        write_parquet(df, staged)
        back = spark.read.parquet(staged)
        assert back.schema == REVIEW_SCHEMA
        assert _rows(back) == _rows(df)

    def test_schema_projects_unknown_fields_away(self, spark, tmp_path):
        src = tmp_path / "extra.json"
        src.write_text(json.dumps({"review_id": "r1", "user_id": "u1",
                                   "business_id": "b1", "stars": 5.0,
                                   "useful": 0, "funny": 0, "cool": 0,
                                   "text": "x", "date": "2020-01-01",
                                   "attributes": {"wifi": True}}))
        df = read_json(spark, str(src), schema=REVIEW_SCHEMA)
        # nested attributes dropped by the declared schema (SURVEY.md §1)
        assert "attributes" not in df.columns and df.count() == 1

    def test_all_yelp_schemas_load(self, spark, tmp_path):
        for name, schema in YELP_SCHEMAS.items():
            p = tmp_path / f"{name}.json"
            p.write_text(json.dumps({f.name: None for f in schema.fields}))
            df = read_json(spark, str(p), schema=schema)
            assert df.schema == schema


class TestPartitionMaintenance:
    def _seed(self, spark, root):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_parquet

        df = spark.createDataFrame(
            [(1, 1995, "a"), (2, 1995, "b"), (3, 1996, "c"), (4, 1997, "d")],
            "id long, o_year int, payload string",
        )
        write_parquet(df, root, partition_by=["o_year"])

    def test_dynamic_overwrite_touches_only_present_partitions(self, spark, tmp_path):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            overwrite_partitions_dynamic,
        )

        root = str(tmp_path / "t")
        self._seed(spark, root)
        patch = spark.createDataFrame(
            [(30, 1996, "c2")], "id long, o_year int, payload string"
        )
        overwrite_partitions_dynamic(patch, root, ["o_year"])
        got = {
            (r.id, r.o_year) for r in spark.read.parquet(root).collect()
        }
        # 1996 replaced wholesale; 1995/1997 untouched
        assert got == {(1, 1995), (2, 1995), (30, 1996), (4, 1997)}

    def test_compaction_leaves_one_file_per_partition(self, spark, tmp_path):
        import glob

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            compact_partitions,
        )

        root = str(tmp_path / "t")
        # 8 small writes into the same partition → many files
        for i in range(4):
            spark.createDataFrame(
                [(i, 1995, f"p{i}"), (100 + i, 1996, f"q{i}")],
                "id long, o_year int, payload string",
            ).write.mode("append").partitionBy("o_year").parquet(root)
        before = len(glob.glob(f"{root}/o_year=1995/*.parquet"))
        assert before >= 4
        rows_before = sorted(r.id for r in spark.read.parquet(root).collect())
        compact_partitions(spark, root, ["o_year"])
        after = len(glob.glob(f"{root}/o_year=1995/*.parquet"))
        assert after == 1
        rows_after = sorted(r.id for r in spark.read.parquet(root).collect())
        assert rows_after == rows_before

    def test_partition_filter_prunes_scan(self, spark, tmp_path):
        root = str(tmp_path / "t")
        self._seed(spark, root)
        df = spark.read.parquet(root).filter(F.col("o_year") == 1996)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(o_year" in plan.replace("#", "")[:10**6]
        assert "o_year = 1996" in plan or "(o_year" in plan
        assert df.count() == 1

    def test_upsert_by_key_replaces_inserts_and_preserves(self, spark, tmp_path):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import upsert_by_key

        root = str(tmp_path / "t")
        self._seed(spark, root)  # ids 1,2 @1995; 3 @1996; 4 @1997
        updates = spark.createDataFrame(
            [(2, 1995, "b-v2"), (99, 1995, "new")],
            "id long, o_year int, payload string",
        )
        upsert_by_key(spark, root, updates, keys=["id"], partition_by=["o_year"])
        got = {
            (r.id, r.o_year): r.payload
            for r in spark.read.parquet(root).collect()
        }
        assert got == {
            (1, 1995): "a",      # untouched row in touched partition
            (2, 1995): "b-v2",   # replaced
            (99, 1995): "new",   # inserted
            (3, 1996): "c",      # untouched partition
            (4, 1997): "d",      # untouched partition
        }

    def test_upsert_by_key_null_partition_value_preserves_siblings(
        self, spark, tmp_path
    ):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            upsert_by_key,
            write_parquet,
        )

        root = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, None, "a"), (2, None, "b"), (3, 1996, "c")],
            "id long, o_year int, payload string",
        )
        write_parquet(base, root, partition_by=["o_year"])
        updates = spark.createDataFrame(
            [(2, None, "b-v2")], "id long, o_year int, payload string"
        )
        upsert_by_key(spark, root, updates, keys=["id"], partition_by=["o_year"])
        got = {
            (r.id, r.o_year): r.payload for r in spark.read.parquet(root).collect()
        }
        # the NULL partition keeps its untouched row — no silent loss
        assert got == {
            (1, None): "a",
            (2, None): "b-v2",
            (3, 1996): "c",
        }

    def test_upsert_by_key_handles_partition_moves(self, spark, tmp_path):
        """An update relocating a key to another partition must delete
        the key's OLD row (previously: the old partition was never
        read, leaving a silent duplicate), including when the move
        empties its source partition entirely."""
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            upsert_by_key,
            write_parquet,
        )

        root = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, 1995, "a"), (2, 1995, "b"), (3, 1996, "c"), (4, 1997, "d")],
            "id long, o_year int, payload string",
        )
        write_parquet(base, root, partition_by=["o_year"])
        updates = spark.createDataFrame(
            # id=2 moves 1995 -> 1996; id=4 moves 1997 -> 1996,
            # emptying 1997 entirely
            [(2, 1996, "b-moved"), (4, 1996, "d-moved")],
            "id long, o_year int, payload string",
        )
        upsert_by_key(spark, root, updates, keys=["id"], partition_by=["o_year"])
        got = {
            (r.id, r.o_year): r.payload
            for r in spark.read.parquet(root).collect()
        }
        assert got == {
            (1, 1995): "a",          # untouched sibling survives
            (2, 1996): "b-moved",    # no stale copy in 1995
            (3, 1996): "c",
            (4, 1996): "d-moved",    # 1997 directory fully removed
        }
        import os

        assert not os.path.exists(f"{root}/o_year=1997")

    def test_upsert_by_key_stale_delete_with_escaped_partition_value(
        self, spark, tmp_path
    ):
        """Partition values Spark writes percent-escaped (colon, space
        → Hive path escaping) must still be found by the vacated-
        partition delete: pre-fix, the raw f"{c}={v}" path missed the
        escaped directory, fs.exists said no, and the moved-away row
        resurfaced on read."""
        import os

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            upsert_by_key,
            write_parquet,
        )

        root = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, "a:1 x", "old"), (2, "plain", "keep")],
            "id long, part string, payload string",
        )
        write_parquet(base, root, partition_by=["part"])
        # the escaped directory exists on disk (sanity: the value
        # really is of the escaping class)
        assert not os.path.exists(f"{root}/part=a:1 x")
        # id=1 moves out of the escaped partition, emptying it
        updates = spark.createDataFrame(
            [(1, "plain", "moved")], "id long, part string, payload string"
        )
        upsert_by_key(spark, root, updates, keys=["id"], partition_by=["part"])
        got = {
            (r.id, r.part): r.payload
            for r in spark.read.parquet(root).collect()
        }
        assert got == {(1, "plain"): "moved", (2, "plain"): "keep"}

    def test_upsert_by_key_key_also_partition_column(self, spark, tmp_path):
        """A merge key that is ALSO a partition column is a legitimate
        layout (e.g. daily snapshots keyed by (id, day), partitioned
        by day); pre-fix the old-partition projection selected the
        column twice and the semi-join failed on ambiguity."""
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            upsert_by_key,
            write_parquet,
        )

        root = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, 1995, "a"), (1, 1996, "b"), (2, 1995, "c")],
            "id long, o_year int, payload string",
        )
        write_parquet(base, root, partition_by=["o_year"])
        updates = spark.createDataFrame(
            [(1, 1995, "a-v2"), (3, 1996, "new")],
            "id long, o_year int, payload string",
        )
        upsert_by_key(
            spark, root, updates, keys=["id", "o_year"], partition_by=["o_year"]
        )
        got = {
            (r.id, r.o_year): r.payload
            for r in spark.read.parquet(root).collect()
        }
        assert got == {
            (1, 1995): "a-v2",
            (1, 1996): "b",
            (2, 1995): "c",
            (3, 1996): "new",
        }

    def test_upsert_by_key_empty_updates_is_noop(self, spark, tmp_path):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import upsert_by_key

        root = str(tmp_path / "t")
        self._seed(spark, root)
        before = sorted(
            (r.id, r.o_year) for r in spark.read.parquet(root).collect()
        )
        empty = spark.createDataFrame(
            [], "id long, o_year int, payload string"
        )
        upsert_by_key(spark, root, empty, keys=["id"], partition_by=["o_year"])
        after = sorted(
            (r.id, r.o_year) for r in spark.read.parquet(root).collect()
        )
        assert after == before

    def test_upsert_prune_stays_flat_with_many_partitions(self, spark, tmp_path):
        # 120 touched partitions must produce IN-list predicates, not a
        # 120-branch OR-chain; the per-column conjunct must reach the
        # scan as a partition filter.
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            upsert_by_key,
            write_parquet,
        )

        root = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 1900 + i, f"v{i}") for i in range(130)],
            "id long, o_year int, payload string",
        )
        write_parquet(base, root, partition_by=["o_year"])
        updates = spark.createDataFrame(
            [(i, 1900 + i, f"v{i}-2") for i in range(120)],
            "id long, o_year int, payload string",
        )
        upsert_by_key(spark, root, updates, keys=["id"], partition_by=["o_year"])
        got = {r.id: r.payload for r in spark.read.parquet(root).collect()}
        assert got[0] == "v0-2" and got[119] == "v119-2" and got[129] == "v129"


class TestDeleteWhere:
    def _seed(self, spark, root):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_parquet

        df = spark.createDataFrame(
            [(1, 1995, "a"), (2, 1995, "b"), (3, 1996, "c"), (4, 1997, "d")],
            "id long, o_year int, payload string",
        )
        write_parquet(df, root, partition_by=["o_year"])

    def test_deletes_matching_rows_only_touched_partitions_rewrite(
        self, spark, tmp_path
    ):
        import os

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import delete_where

        root = str(tmp_path / "t")
        self._seed(spark, root)
        before = {
            d: os.path.getmtime(os.path.join(root, d))
            for d in os.listdir(root)
            if d.startswith("o_year=")
        }
        n = delete_where(spark, root, "id = 2")
        assert n == 1
        got = {(r.id, r.o_year) for r in spark.read.parquet(root).collect()}
        assert got == {(1, 1995), (3, 1996), (4, 1997)}
        # partitions without a match were never rewritten
        for d, t0 in before.items():
            if d != "o_year=1995":
                assert os.path.getmtime(os.path.join(root, d)) == t0, d

    def test_emptied_partition_directory_is_removed(self, spark, tmp_path):
        import os

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import delete_where

        root = str(tmp_path / "t")
        self._seed(spark, root)
        delete_where(spark, root, "o_year = 1996")  # sole row
        assert not os.path.exists(f"{root}/o_year=1996")
        assert spark.read.parquet(root).count() == 3

    def test_ttl_partition_predicate_removes_whole_years(self, spark, tmp_path):
        import os

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import delete_where

        root = str(tmp_path / "t")
        self._seed(spark, root)
        n = delete_where(spark, root, "o_year < 1997")
        assert n == 2
        assert not os.path.exists(f"{root}/o_year=1995")
        assert not os.path.exists(f"{root}/o_year=1996")
        got = {(r.id, r.o_year) for r in spark.read.parquet(root).collect()}
        assert got == {(4, 1997)}

    def test_null_predicate_rows_are_kept(self, spark, tmp_path):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            delete_where,
            write_parquet,
        )

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 1995, "a"), (2, 1995, None), (3, 1995, "ax")],
            "id long, o_year int, payload string",
        )
        write_parquet(df, root, partition_by=["o_year"])
        # SQL DELETE semantics: NULL predicate -> row survives
        delete_where(spark, root, "payload LIKE 'a%' AND id <> 1")
        got = sorted(r.id for r in spark.read.parquet(root).collect())
        assert got == [1, 2]

    def test_null_partition_value_rows_delete_and_dir_removes(
        self, spark, tmp_path
    ):
        """Rows in the __HIVE_DEFAULT_PARTITION__ directory (NULL
        partition value) must participate: a predicate matching them
        deletes them, and when the NULL partition empties its escaped
        directory is removed — not left to resurface."""
        import os

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import (
            delete_where,
            write_parquet,
        )

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 1995, "a"), (2, None, "b"), (3, None, "c"), (4, 1997, "d")],
            "id long, o_year int, payload string",
        )
        write_parquet(df, root, partition_by=["o_year"])
        assert os.path.exists(f"{root}/o_year=__HIVE_DEFAULT_PARTITION__")
        # partial delete: NULL partition keeps its other row
        delete_where(spark, root, "id = 2")
        got = {(r.id, r.o_year) for r in spark.read.parquet(root).collect()}
        assert got == {(1, 1995), (3, None), (4, 1997)}
        # emptying delete: the escaped directory goes away
        delete_where(spark, root, "id = 3")
        assert not os.path.exists(
            f"{root}/o_year=__HIVE_DEFAULT_PARTITION__"
        )
        got = {(r.id, r.o_year) for r in spark.read.parquet(root).collect()}
        assert got == {(1, 1995), (4, 1997)}

    def test_mixed_empty_and_rewrite_partitions(self, spark, tmp_path):
        """One delete emptying one partition while only TRIMMING
        another: the emptied dir goes away, the trimmed one keeps its
        survivors, untouched dirs never rewrite, and the return value
        counts BOTH touched partitions."""
        import os

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import delete_where

        root = str(tmp_path / "t")
        self._seed(spark, root)  # ids 1,2 @1995; 3 @1996; 4 @1997
        t1997 = os.path.getmtime(f"{root}/o_year=1997")
        # id 2 trims 1995 (id 1 survives); id 3 empties 1996
        n = delete_where(spark, root, "id IN (2, 3)")
        assert n == 2
        got = {(r.id, r.o_year) for r in spark.read.parquet(root).collect()}
        assert got == {(1, 1995), (4, 1997)}
        assert not os.path.exists(f"{root}/o_year=1996")
        assert os.path.getmtime(f"{root}/o_year=1997") == t1997

    def test_hadoop_path_exists_local_schemes(self, spark, tmp_path):
        """hadoop_path_exists answers for bare local paths, file: URIs,
        files, and missing paths — the bootstrap probe contract the
        streaming index ingest relies on."""
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import hadoop_path_exists

        d = tmp_path / "probe_dir"
        d.mkdir()
        f = d / "x.txt"
        f.write_text("x")
        assert hadoop_path_exists(spark, str(d))
        assert hadoop_path_exists(spark, f"file:{d}")
        assert hadoop_path_exists(spark, str(f))
        assert not hadoop_path_exists(spark, str(tmp_path / "nope"))

    def test_no_match_is_a_noop(self, spark, tmp_path):
        import os

        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import delete_where

        root = str(tmp_path / "t")
        self._seed(spark, root)
        before = {
            d: os.path.getmtime(os.path.join(root, d))
            for d in os.listdir(root)
            if d.startswith("o_year=")
        }
        assert delete_where(spark, root, "id = 999") == 0
        for d, t0 in before.items():
            assert os.path.getmtime(os.path.join(root, d)) == t0, d


def test_upsert_replaces_null_key_row(spark, tmp_path):
    """eqNullSafe upsert keys: an update for a NULL-key row must
    REPLACE the stored NULL-key row, not duplicate beside it (plain
    equi-join anti semantics would keep both)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import upsert_by_key

    path = str(tmp_path / "null_upsert")
    spark.createDataFrame(
        [(None, 1995, "old"), (7, 1995, "keep")],
        "id long, y int, payload string",
    ).write.partitionBy("y").parquet(path)
    upsert_by_key(
        spark,
        path,
        spark.createDataFrame(
            [(None, 1995, "new")], "id long, y int, payload string"
        ),
        keys=["id"],
        partition_by=["y"],
    )
    got = {r.id: r.payload for r in spark.read.parquet(path).collect()}
    assert got == {None: "new", 7: "keep"}


def test_negative_nanos_truncate_matches_duckdb(spark, tmp_path):
    """r8 timestamp-edge pin: parquet TIMESTAMP(NANOS) carrying
    PRE-1970 values with sub-microsecond remainders.  Both engines
    truncate nanos→micros TOWARD ZERO (-1500 ns → -1 µs = …59.999999,
    -1 ns → 0), so the loader's ``div 1000`` (trunc, not floor) is the
    cross-engine-correct choice — pinned because "floor is the
    mathematically right truncation" is exactly the refactor someone
    will try."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    vals = pa.array([-1500, 1500, -1, -1000], type=pa.timestamp("ns"))
    t = pa.table(
        {"event_id": pa.array([1, 2, 3, 4], type=pa.int64()), "ts": vals}
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))

    spark_us = {
        r["event_id"]: r["us"]
        for r in load_table(spark, str(tmp_path), "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    con = duckdb.connect()
    duck_us = dict(
        con.execute(
            "SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{tmp_path}/events.parquet')"
        ).fetchall()
    )
    con.close()
    assert spark_us == duck_us == {1: -1, 2: 1, 3: 0, 4: -1}
