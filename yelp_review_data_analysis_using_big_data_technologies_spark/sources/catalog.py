"""Persistent catalog layer (SURVEY.md §2.1 S6, the Glue-catalog role).

The reference's catalog is a Glue crawler + Data Catalog table
(main.tf:28-38): durable metadata that re-registers the S3 output for
Athena after every run.  Temp views (``readers.register_views``) cover
the in-session SQL role; this module covers DURABILITY — tables whose
metadata survives the session, via the session catalog's metastore:

- **external tables** — ``CREATE TABLE ... USING PARQUET LOCATION`` —
  metadata points at files the engine (or anything else) already
  wrote; no data copy, schema from the parquet footers, the direct
  analog of a crawler registration minus the inference scan;
- **managed tables** — ``saveAsTable`` — engine-owned data +
  metadata, supporting partitioning and bucketing (the bucketed
  co-located-join path in ``writers.write_bucketed`` already rides
  this);
- **persistent views** — ``CREATE OR REPLACE VIEW`` — named SQL over
  either of the above.

Durability needs a real metastore: run the session with
``spark.sql.catalogImplementation=hive`` (``get_spark``'s
``extra_conf``; embedded Derby writes
``metastore_db/`` next to the warehouse dir; a shared deployment
points ``hive.metastore.uris`` at a service).  Under the default
in-memory catalog everything here still works, scoped to the session
— the API is identical, so tests exercise the full surface either
way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _q(name: str) -> str:
    """Backtick-quote one identifier part."""
    return "`" + name.replace("`", "``") + "`"


def _q_str(value: str) -> str:
    """Single-quote a DDL string literal (paths, comments)."""
    return "'" + value.replace("'", "''") + "'"


def _qualified(database: str | None, table: str) -> str:
    return f"{_q(database)}.{_q(table)}" if database else _q(table)


def _canon_location(loc: str) -> str:
    """One canonical form for table locations: DESCRIBE FORMATTED
    reports a scheme-qualified URI (``file:/x`` or ``file:///x``)
    while callers pass bare or relative paths.  Local paths resolve
    through the filesystem; non-file schemes (s3://, hdfs://) just
    normalize slashes — they must compare equal to themselves, not to
    a local path."""
    from pathlib import Path
    from urllib.parse import unquote, urlparse

    parsed = urlparse(loc)
    if parsed.scheme in ("", "file"):
        # unquote before re-encoding: DESCRIBE reports percent-escaped
        # URIs (space → %20), and as_uri() escapes again — without the
        # decode, file:/a%20b re-canonicalizes to .../a%2520b and the
        # same path never compares equal to the caller's bare form, so
        # every re-register drops/recreates the table (losing ANALYZE
        # stats).  Bare paths contain no escapes, so only the parsed
        # URI path is decoded.
        p = unquote(parsed.path) if parsed.scheme else loc
        return Path(p).resolve().as_uri().rstrip("/")
    return loc.rstrip("/")


def create_database(spark: SparkSession, name: str) -> None:
    """CREATE DATABASE IF NOT EXISTS (the Glue database analog,
    reference main.tf:10-12)."""
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {_q(name)} "
        f"COMMENT {_q_str('persistent catalog layer (S6)')}"
    )


def register_external_table(
    spark: SparkSession,
    table: str,
    path: str,
    database: str | None = None,
) -> None:
    """Register already-written parquet files as a catalog table — the
    crawler role without the crawl: schema comes from the parquet
    footers at query time, partition discovery from the directory
    layout.  Pure metadata; DROP TABLE leaves the files.  ``path`` is
    quote-escaped — it lands inside a DDL string."""
    name = _qualified(database, table)
    # Name-collision guard (r8 catalog-collision probe): a TEMP VIEW
    # with this unqualified name shadows any table we register (every
    # unqualified read resolves the view, not the table), and a
    # catalog VIEW holds the name outright.  In both cases the DDL
    # sequence below used to die halfway — CREATE TABLE then MSCK
    # REPAIR hitting EXPECT_TABLE_NOT_VIEW — leaving a half-registered
    # shadowed table.  Fail CLOSED with a clear error before any DDL.
    # (Same-name-different-CASE is NOT a collision: the session
    # catalog is case-insensitive by default, so re-registering under
    # any casing is the normal follow-the-data path, pinned in
    # tests/test_catalog_collisions.py.)
    if spark.catalog.tableExists(name):
        kind = spark.catalog.getTable(name).tableType
        if kind in ("TEMPORARY", "VIEW"):
            what = "temp view" if kind == "TEMPORARY" else "view"
            raise ValueError(
                f"cannot register external table {name}: the name is "
                f"held by a {what}, which would shadow or block the "
                "table — drop the view or pick another name"
            )
    # A qualified registration dodges the check above (the temp view
    # only answers to the BARE name), but the shadowing hazard is the
    # same: after `db`.`t` is registered, any unqualified read of `t`
    # still resolves the session temp view, not the table.  Probe the
    # bare name too and fail closed (r9, ADVICE).
    if database is not None and spark.catalog.tableExists(_q(table)):
        if spark.catalog.getTable(_q(table)).tableType == "TEMPORARY":
            raise ValueError(
                f"cannot register external table {name}: a session "
                f"temp view holds the bare name {table!r}, so every "
                "unqualified read would resolve the view and shadow "
                "the table — drop the view or pick another name"
            )
    # Re-registration must FOLLOW the data: CREATE IF NOT EXISTS alone
    # is a silent no-op when the table already exists, leaving the
    # catalog pointed at a stale location after the output moves.
    # Detect a location change and replace the metadata (files are
    # untouched — external table).
    if spark.catalog.tableExists(name):
        current = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect()
        }.get("Location")
        # DESCRIBE reports a scheme-qualified URI (file:/x) while
        # callers typically pass a bare path — compare through one
        # canonical URI form, else re-registering the SAME path would
        # always mismatch and drop/recreate the table every call,
        # discarding ANALYZE stats for nothing.
        if current is not None and _canon_location(current) != _canon_location(path):
            spark.sql(f"DROP TABLE {name}")
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} USING PARQUET "
        f"LOCATION {_q_str(path)}"
    )
    # partitioned layouts need an explicit partition sweep once
    try:
        spark.sql(f"MSCK REPAIR TABLE {name}")
    except Exception as exc:
        # Unpartitioned tables legitimately reject the repair — but a
        # FAILED repair on a partitioned table would leave the table
        # with zero registered partitions and silently empty queries,
        # so anything else propagates.
        msg = str(exc).upper()
        if not ("NOT PARTITIONED" in msg or "NOT_A_PARTITIONED_TABLE" in msg):
            raise


def save_managed_table(
    df: DataFrame,
    table: str,
    database: str | None = None,
) -> None:
    """Engine-owned table, written in overwrite mode and partitioned
    by ``region_name``: data written into the warehouse dir + catalog
    metadata in one step.  Partitioned managed tables get
    partition pruning on catalog lookups, and ANALYZE (below) feeds
    CBO row counts.

    ORPHANED-LOCATION recovery (r13): under the in-memory catalog the
    metadata dies with the session but the warehouse directory
    persists, so the next session's first ``saveAsTable`` hits
    LOCATION_ALREADY_EXISTS for a table the catalog has never heard
    of.  Overwrite already declares the data replaceable, so with the
    table ABSENT from the catalog the orphaned directory is
    engine-owned leftovers — delete it and retry once.  Any other
    conflict (table registered) propagates untouched."""
    name = _qualified(database, table)
    writer = df.write.mode("overwrite").format("parquet").partitionBy("region_name")
    try:
        writer.saveAsTable(name)
    except Exception as exc:
        spark = df.sparkSession
        if "LOCATION_ALREADY_EXISTS" not in str(exc) or spark.catalog.tableExists(name):
            raise
        # location is only quoted in the error text; re-derive it from
        # the database's registered locationUri (which honors custom
        # CREATE DATABASE ... LOCATION) instead of parsing the message
        dbloc = spark.catalog.getDatabase(
            database or spark.catalog.currentDatabase()
        ).locationUri
        jvm = spark.sparkContext._jvm
        # Spark lowercases unquoted identifiers when deriving the
        # managed-table directory, so a mixed-case `table` must be
        # normalized or fs.exists probes a path that never existed and
        # the retry re-raises (r14 / ADVICE).
        p = jvm.org.apache.hadoop.fs.Path(f"{dbloc}/{table.lower()}")
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
        writer.saveAsTable(name)


def create_view(
    spark: SparkSession,
    view: str,
    sql: str,
    database: str | None = None,
) -> None:
    """Persistent named SQL (CREATE OR REPLACE VIEW) — the reusable
    dashboard-query layer; survives the session under a real
    metastore.  ``sql`` is a query body and is passed through verbatim
    by contract — callers own its provenance (it is SQL, there is
    nothing to escape)."""
    spark.sql(f"CREATE OR REPLACE VIEW {_qualified(database, view)} AS {sql}")


def analyze_table(
    spark: SparkSession,
    table: str,
    database: str | None = None,
    columns: list[str] | None = None,
) -> None:
    """Collect table (and optional column) statistics so the
    cost-based optimizer can size joins — the step that lets Catalyst
    choose broadcast/shuffle strategies from real row counts instead
    of file sizes."""
    name = _qualified(database, table)
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(_q(c) for c in columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
