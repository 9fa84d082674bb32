"""Catalog name-collision pins (r8 probe class,
scripts/probe_catalog_collisions.py at c84e9fc).

The session catalog is ONE case-insensitive namespace per database,
shadowed by session temp views.  The exploration run found
``register_external_table`` dying HALFWAY onto a name held by a view
(CREATE TABLE succeeded, MSCK REPAIR resolved the view and threw
EXPECT_TABLE_NOT_VIEW) — leaving a half-registered table that
unqualified reads could not even see.  The layer now fails CLOSED
before any DDL; the rest of this suite pins the surrounding semantics
(case-folding, alias tables, database isolation, hostile identifiers,
managed-over-external overwrite) so a Spark upgrade that shifts any of
them is caught here, not in production.
"""

from __future__ import annotations

import pytest

from yelp_review_data_analysis_using_big_data_technologies_spark.sources import catalog as cat


def _table_names(spark):
    """Persistent (non-temporary) tables in the current database."""
    return [t.name for t in spark.catalog.listTables() if not t.isTemporary]


@pytest.fixture()
def pq(spark, tmp_path):
    """Two small parquet datasets with distinct row counts."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).selectExpr("id", "'one' AS src").write.parquet(a)
    spark.range(5).selectExpr("id", "'two' AS src").write.parquet(b)
    return a, b


@pytest.fixture()
def clean(spark):
    """Drop this suite's catalog objects after each test."""
    yield
    for t in ("colcase", "colview_t", "col_a", "col_b", "coltv"):
        for stmt in (f"DROP TABLE IF EXISTS {t}", f"DROP VIEW IF EXISTS {t}"):
            try:
                spark.sql(stmt)
            except Exception:  # noqa: BLE001 — wrong DROP kind
                pass
    spark.catalog.dropTempView("coltv")
    spark.sql("DROP DATABASE IF EXISTS coldb1 CASCADE")
    spark.sql("DROP DATABASE IF EXISTS coldb2 CASCADE")


def test_case_fold_is_one_table_last_registration_wins(spark, pq, clean):
    """CONTRACT PIN: the catalog is case-insensitive
    (spark.sql.caseSensitive=false default), so `ColCase` and
    `colcase` are ONE table and the second registration follows the
    data — silent by Spark design, hence pinned loudly here."""
    a, b = pq
    cat.register_external_table(spark, "ColCase", a)
    cat.register_external_table(spark, "colcase", b)
    assert spark.table("ColCase").count() == 5
    assert spark.table("colcase").count() == 5
    assert _table_names(spark).count("colcase") == 1


def test_register_over_temp_view_fails_closed(spark, pq, clean):
    """A temp view shadows every unqualified read of a same-name
    table, so registering under that name must raise BEFORE any DDL —
    the temp view keeps working and no catalog table appears."""
    a, _ = pq
    spark.range(7).createOrReplaceTempView("coltv")
    with pytest.raises(ValueError, match="temp view"):
        cat.register_external_table(spark, "coltv", a)
    assert spark.table("coltv").count() == 7
    assert "coltv" not in _table_names(spark)


def test_qualified_register_sees_bare_temp_view_shadow(spark, pq, clean):
    """r9 (ADVICE): a QUALIFIED registration used to dodge the guard
    — `coldb1`.`coltv` is not found by the qualified lookup, yet a
    session temp view named coltv still shadows every unqualified
    read afterwards.  The bare name is now probed too; fail closed."""
    a, _ = pq
    cat.create_database(spark, "coldb1")
    spark.range(7).createOrReplaceTempView("coltv")
    with pytest.raises(ValueError, match="bare name"):
        cat.register_external_table(spark, "coltv", a, database="coldb1")
    assert spark.table("coltv").count() == 7  # view untouched
    # a DIFFERENT qualified name with no bare-name shadow still works
    cat.register_external_table(spark, "col_a", a, database="coldb1")
    assert spark.table("coldb1.col_a").count() == 3


def test_register_over_catalog_view_fails_closed(spark, pq, clean):
    a, _ = pq
    spark.sql("CREATE OR REPLACE VIEW colview_t AS SELECT 42 AS x")
    with pytest.raises(ValueError, match="held by a view"):
        cat.register_external_table(spark, "colview_t", a)
    assert [r.x for r in spark.table("colview_t").collect()] == [42]


def test_create_view_over_table_rejected_by_engine(spark, pq, clean):
    """Spark itself refuses CREATE OR REPLACE VIEW onto a table name;
    pin the error class so an upgrade that silently starts replacing
    tables with views is caught."""
    a, _ = pq
    cat.register_external_table(spark, "colcase", a)
    with pytest.raises(Exception, match="EXPECT_VIEW_NOT_TABLE"):
        cat.create_view(spark, "colcase", "SELECT 1 AS x")


def test_alias_tables_over_one_location_survive_sibling_drop(
    spark, pq, clean
):
    """Two external tables may alias one location; dropping one is
    metadata-only, so the sibling keeps reading the files."""
    a, _ = pq
    cat.register_external_table(spark, "col_a", a)
    cat.register_external_table(spark, "col_b", a)
    spark.sql("DROP TABLE col_a")
    assert spark.table("col_b").count() == 3


def test_same_name_isolated_across_databases(spark, pq, clean):
    a, b = pq
    cat.create_database(spark, "coldb1")
    cat.create_database(spark, "coldb2")
    cat.register_external_table(spark, "same", a, database="coldb1")
    cat.register_external_table(spark, "same", b, database="coldb2")
    assert spark.table("coldb1.same").count() == 3
    assert spark.table("coldb2.same").count() == 5


@pytest.mark.parametrize("bad", ["a.b", "with space", "tick`name"])
def test_hostile_identifiers_rejected_without_registration(
    spark, pq, bad, clean
):
    """Names with separators/spaces/backticks are rejected by Spark's
    identifier validation — and must leave NO catalog residue."""
    a, _ = pq
    with pytest.raises(Exception):
        cat.register_external_table(spark, bad, a)
    assert bad not in _table_names(spark)


def test_managed_overwrite_over_external_leaves_files(spark, pq, clean):
    """CONTRACT PIN: saveAsTable(overwrite) onto an external table's
    name replaces the CATALOG ENTRY with a managed table but never
    touches the external files (they belong to the caller)."""
    a, _ = pq
    cat.register_external_table(spark, "col_b", a)
    cat.save_managed_table(
        spark.range(2).selectExpr("id", "'m' AS src", "'ASIA' AS region_name"), "col_b"
    )
    assert spark.table("col_b").count() == 2
    assert spark.read.parquet(a).count() == 3
