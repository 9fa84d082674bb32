"""Persistent-catalog layer: external registration over existing
files, managed tables with partitioning, persistent views, stats for
CBO, and metadata/data lifecycle separation.
"""

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.sources import catalog as cat
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_parquet


@pytest.fixture()
def db(spark):
    cat.create_database(spark, "cat_test")
    yield "cat_test"
    spark.sql("DROP DATABASE IF EXISTS cat_test CASCADE")


def test_external_table_over_existing_files(spark, db, tmp_path):
    path = str(tmp_path / "ext")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, payload string"
    )
    write_parquet(df, path)
    cat.register_external_table(spark, "ext_t", path, database=db)
    got = spark.sql(f"SELECT count(*) AS n FROM {db}.ext_t").collect()[0].n
    assert got == 2
    # metadata-only: dropping the table must leave the files
    spark.sql(f"DROP TABLE {db}.ext_t")
    assert spark.read.parquet(path).count() == 2


def test_external_partitioned_table_discovers_partitions(spark, db, tmp_path):
    path = str(tmp_path / "extp")
    df = spark.createDataFrame(
        [(1, 1995, "a"), (2, 1996, "b"), (3, 1996, "c")],
        "id long, y int, payload string",
    )
    write_parquet(df, path, partition_by=["y"])
    cat.register_external_table(spark, "ext_p", path, database=db)
    rows = spark.sql(
        f"SELECT y, count(*) AS n FROM {db}.ext_p GROUP BY y ORDER BY y"
    ).collect()
    assert [(r.y, r.n) for r in rows] == [(1995, 1), (1996, 2)]


def test_managed_table_roundtrip_and_view(spark, db):
    df = spark.createDataFrame(
        [(1, "ASIA", 10.0), (2, "ASIA", 20.0), (3, "EUROPE", 30.0)],
        "id long, region_name string, v double",
    )
    cat.save_managed_table(df, "fact", database=db)
    assert "fact" in [t.name for t in spark.catalog.listTables(db)]
    assert [c.name for c in spark.catalog.listColumns(f"{db}.fact") if c.isPartition] == [
        "region_name"
    ]
    cat.create_view(
        spark,
        "fact_by_region",
        f"SELECT region_name, sum(v) AS total FROM {db}.fact GROUP BY region_name",
        database=db,
    )
    got = {
        r.region_name: r.total
        for r in spark.sql(f"SELECT * FROM {db}.fact_by_region").collect()
    }
    assert got == {"ASIA": 30.0, "EUROPE": 30.0}


def test_managed_overwrite_reclaims_orphaned_location(spark, db):
    """r13: under the in-memory catalog, table metadata dies with the
    session but the warehouse directory persists — the next session's
    saveAsTable hits LOCATION_ALREADY_EXISTS for a table the catalog
    never heard of.  The overwrite write must reclaim the orphan."""
    df = spark.createDataFrame([(1, 10.0, "ASIA")], "id long, v double, region_name string")
    cat.save_managed_table(df, "orphan_t", database=db)
    # simulate the dead-catalog state: drop metadata, resurrect files
    loc = spark.catalog.getDatabase(db).locationUri + "/orphan_t"
    from urllib.parse import urlparse

    local = urlparse(loc).path
    import shutil
    import tempfile

    stash = tempfile.mkdtemp()
    shutil.copytree(local, stash + "/orphan_t")
    spark.sql(f"DROP TABLE {db}.orphan_t")
    shutil.copytree(stash + "/orphan_t", local)
    # overwrite reclaims and succeeds
    df2 = spark.createDataFrame(
        [(2, 20.0, "ASIA"), (3, 30.0, "ASIA")], "id long, v double, region_name string"
    )
    cat.save_managed_table(df2, "orphan_t", database=db)
    got = sorted(
        r.id for r in spark.sql(f"SELECT id FROM {db}.orphan_t").collect()
    )
    assert got == [2, 3]


def test_external_table_path_with_quote(spark, db, tmp_path):
    # a single quote in the path must not break the generated DDL
    path = str(tmp_path / "o'brien")
    df = spark.createDataFrame([(1, "a")], "id long, payload string")
    write_parquet(df, path)
    cat.register_external_table(spark, "quoted", path, database=db)
    assert spark.sql(f"SELECT count(*) AS n FROM {db}.quoted").collect()[0].n == 1


def test_analyze_feeds_row_count_stats(spark, db):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"), F.lit("ASIA").alias("region_name")
    )
    cat.save_managed_table(df, "stats_t", database=db)
    cat.analyze_table(spark, "stats_t", database=db, columns=["k"])
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {db}.stats_t").collect()
    }
    assert "Statistics" in desc and "rows" in desc["Statistics"]


def test_reregistration_follows_moved_data(spark, tmp_path):
    """Re-registering a table whose data moved must point the catalog
    at the NEW location — CREATE IF NOT EXISTS alone was a silent
    no-op that kept serving the stale files."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.catalog import register_external_table

    p1 = str(tmp_path / "v1")
    p2 = str(tmp_path / "v2")
    spark.createDataFrame([(1, "old")], "id long, v string").write.parquet(p1)
    spark.createDataFrame([(2, "new")], "id long, v string").write.parquet(p2)
    register_external_table(spark, "reg_move_t", p1)
    assert [r.v for r in spark.table("reg_move_t").collect()] == ["old"]
    register_external_table(spark, "reg_move_t", p2)
    try:
        assert [r.v for r in spark.table("reg_move_t").collect()] == ["new"]
    finally:
        spark.sql("DROP TABLE IF EXISTS reg_move_t")


def test_reregistration_same_path_preserves_table_and_stats(spark, tmp_path):
    """Re-registering the SAME path must be a no-op, not a
    drop/recreate (r5 ADVICE): DESCRIBE reports a scheme-qualified
    URI (file:/x) while callers pass a bare path, and a raw string
    compare treated every re-registration as a move — losing ANALYZE
    stats each call."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.catalog import (
        analyze_table,
        register_external_table,
    )

    path = str(tmp_path / "stable")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(path)
    register_external_table(spark, "reg_same_t", path)
    try:
        analyze_table(spark, "reg_same_t")
        def stats():
            desc = {
                r.col_name: r.data_type
                for r in spark.sql("DESCRIBE TABLE EXTENDED reg_same_t").collect()
            }
            return desc.get("Statistics")
        assert stats() and "rows" in stats()
        # same bare path, trailing slash, and relative form: all no-ops
        register_external_table(spark, "reg_same_t", path)
        register_external_table(spark, "reg_same_t", path + "/")
        assert stats() and "rows" in stats(), "re-registration dropped stats"
    finally:
        spark.sql("DROP TABLE IF EXISTS reg_same_t")


def test_canon_location_percent_escaped_uri_matches_bare_path(tmp_path):
    """r6 ADVICE: DESCRIBE reports percent-escaped file URIs (space →
    %20); _canon_location must URL-decode before re-encoding, else
    file:/a%20b re-escapes to .../a%2520b and the same path never
    compares equal to the caller's bare form — every re-register then
    drops/recreates the table and discards ANALYZE stats."""
    import os

    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.catalog import _canon_location

    bare = str(tmp_path / "dir with space")
    os.makedirs(bare, exist_ok=True)
    escaped_uri = "file://" + bare.replace(" ", "%20")
    assert _canon_location(escaped_uri) == _canon_location(bare)
    # idempotence: canonicalizing a canonical form is a fixpoint
    assert _canon_location(_canon_location(bare)) == _canon_location(bare)


def test_orphan_recovery_handles_mixed_case_table_name(spark, db):
    """r14 (ADVICE): Spark lowercases unquoted identifiers when
    deriving the managed-table directory, so the orphan-recovery probe
    must normalize a mixed-case table name or it misses the real
    directory and the retry re-raises."""
    df = spark.createDataFrame([(1, 10.0, "ASIA")], "id long, v double, region_name string")
    cat.save_managed_table(df, "Orphan_Mixed", database=db)
    loc = spark.catalog.getDatabase(db).locationUri + "/orphan_mixed"
    from urllib.parse import urlparse

    local = urlparse(loc).path
    import os
    import shutil
    import tempfile

    assert os.path.isdir(local)  # Spark stored it lowercased
    stash = tempfile.mkdtemp()
    shutil.copytree(local, stash + "/orphan_mixed")
    spark.sql(f"DROP TABLE {db}.Orphan_Mixed")
    shutil.copytree(stash + "/orphan_mixed", local)
    df2 = spark.createDataFrame([(2, 20.0, "ASIA")], "id long, v double, region_name string")
    cat.save_managed_table(df2, "Orphan_Mixed", database=db)
    got = [
        r.id for r in spark.sql(f"SELECT id FROM {db}.Orphan_Mixed").collect()
    ]
    assert got == [2]
