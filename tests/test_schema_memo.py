"""The schema memo behind ``sources.readers.load_table``: the first
read of a table file infers its schema (one Spark job), later reads of
the same unchanged file pass the remembered schema and launch none.
These tests pin that a memo-served read returns exactly what a fresh
inferred read returns, that a warm read submits no job, and that a
rewritten file, a flipped type-mapping conf, a missing path and a
directory all behave as a plain ``spark.read.parquet`` would."""

import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from yelp_review_data_analysis_using_big_data_technologies_spark.sources import readers
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import (
    TABLES,
    load_table,
)

DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "data",
    "sf0.001",
)


@contextmanager
def _job_group(spark, name):
    """Run the block under job group ``name`` and yield the list that
    holds, once the block ends, the ids of the jobs it submitted."""
    sc = spark.sparkContext
    jobs = []
    sc.setJobGroup(name, name)
    try:
        yield jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        # the status tracker is fed by the listener bus: let it catch up
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(name))


@pytest.mark.parametrize("name", TABLES)
def test_memo_served_read_equals_fresh_read(spark, name):
    load_table(spark, DATA, name)
    served = load_table(spark, DATA, name)
    raw = spark.read.parquet(os.path.join(DATA, f"{name}.parquet"))
    fix = readers._TABLE_NORMALIZERS.get(name)
    fresh = fix(raw) if fix else raw
    assert served.schema.json() == fresh.schema.json()  # metadata too
    assert served.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(served).count() == 0


def test_warm_load_table_submits_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "cold.parquet"))
    with _job_group(spark, "schema-memo-cold") as cold:
        load_table(spark, str(tmp_path), "cold")
    # the group sees the inference job of a first read ...
    assert len(cold) >= 1
    for name in ("orders", "events"):
        load_table(spark, DATA, name)
        with _job_group(spark, f"schema-memo-warm-{name}") as warm:
            load_table(spark, DATA, name)
        # ... and none on a warm one
        assert len(warm) == 0, name


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    load_table(spark, str(tmp_path), "t")
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_binary_as_string_flip_reinfers(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), str(tmp_path / "bin.parquet"))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "bin").schema["b"].dataType == T.BinaryType()
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "bin")
        assert df.schema["b"].dataType == T.StringType()
        assert df.collect()[0]["b"] == "hi"
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "bin").schema["b"].dataType == T.BinaryType()
    finally:
        spark.conf.set(key, before)


def test_missing_path_raises_like_a_plain_read(spark, tmp_path):
    with pytest.raises(Exception) as plain:
        spark.read.parquet(str(tmp_path / "nope.parquet"))
    with pytest.raises(Exception) as memo:
        load_table(spark, str(tmp_path), "nope")
    assert type(memo.value) is type(plain.value)
    assert type(memo.value).__name__ == "AnalysisException"


def test_directory_path_is_read_fresh_every_time(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "d").count() == 3
    # a directory never enters the memo, so a file added under it is
    # seen on the next read, whatever the directory's own mtime says
    spark.range(3, 5).write.mode("append").parquet(path)
    df = load_table(spark, str(tmp_path), "d")
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
    assert not any(p.endswith(path) for p in readers._SCHEMAS)
