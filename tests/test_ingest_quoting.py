"""CSV/JSON quoting + control-character injection over the ingest
round-trips (round 8 — extra injection class).

The round-trip entries prove losslessness against the ORIGINAL
parquet, but the clean fixtures never exercise the quoting machinery.
The exploration run (scripts/probe_ingest_quoting.py at c84e9fc) found the CSV
leg LOSSY two ways, both fixed and pinned here:

- embedded newlines in quoted fields SPLIT ROWS on read —
  ``read_csv`` now defaults ``multiLine=true`` (trade-off documented:
  multiLine parses per-file, not per-split);
- Spark's CSV WRITER trims leading/trailing whitespace by default
  (``ignoreLeading/TrailingWhiteSpace`` default true on write) —
  ``write_csv`` pins both off.

JSON and ORC survived unchanged — including hostile values in the
ORC PARTITION column (newlines/quotes %-escaped into directory names
and decoded on partition discovery).

Beyond the gate-comparator replay, the suite does a DIRECT
staged-vs-original frame equality per format: the aggregate entries
alone cannot see value corruption that preserves row structure.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import panel_legs
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES, load_table

EDGES = [
    "e'comma, inside'",
    "e'double \"quote\" mark'",
    "e'embedded\\nnewline'",
    "e'crlf\\r\\nline'",
    "e'back\\\\slash and tab\\there'",
    "e'single '' quote'",
    "e'trailing space '",
    "e'ünïcode, \"mixed\"\\nall'",
]

ENTRIES = [
    "csv_ingest_roundtrip",
    "json_ingest_roundtrip",
    "orc_ingest_roundtrip",
    "ingest_roundtrip_panel",
]


@pytest.fixture(scope="module")
def quoting_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("quoting_sf")
    con = duckdb.connect()

    def whens(pk, col):
        return (
            " ".join(
                f"WHEN hash({pk}) % 17 = {i} THEN {lit}"
                for i, lit in enumerate(EDGES)
            )
            + f" ELSE {col} END"
        )

    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "nation":
            # tiny table: cycle ALL edge classes through ~1/3 of rows
            cyc = " ".join(
                f"WHEN hash(n_nationkey) % 8 = {i} THEN {lit}"
                for i, lit in enumerate(EDGES)
            )
            sel = (
                "SELECT * REPLACE ((CASE WHEN hash(n_nationkey) % 3 = 0 "
                f"THEN (CASE {cyc} END) ELSE n_name END) AS n_name) "
                f"FROM read_parquet('{p}')"
            )
        elif t == "documents":
            sel = (
                "SELECT * REPLACE ("
                f"(CASE {whens('doc_id', 'text')}) AS text) "
                f"FROM read_parquet('{p}')"
            )
        elif t == "orders":
            # the ORC round-trip's PARTITION column: hostile values
            # become directory names (the hardest escaping path)
            sel = (
                "SELECT * REPLACE ("
                f"(CASE {whens('o_orderkey', 'o_orderpriority')}) "
                "AS o_orderpriority) "
                f"FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_bad = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/nation.parquet') "
        "WHERE n_name LIKE '%\n%' OR n_name LIKE '%\"%'"
    ).fetchone()[0]
    assert n_bad > 0, "no quoting edges injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(quoting_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(quoting_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_quoting_edges(spark, quoting_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, quoting_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize(
    "fmt,stager,table",
    [
        ("csv", "_staged_csv_nation", "nation"),
        ("json", "_staged_json_documents", "documents"),
        ("orc", "_staged_orc_orders", "orders"),
    ],
)
def test_roundtrip_is_lossless_bytewise(spark, quoting_dir, fmt, stager, table):
    orig = load_table(spark, quoting_dir, table)
    staged = getattr(entrymod, stager)(spark, quoting_dir).select(*orig.columns)
    diff = staged.exceptAll(orig).count() + orig.exceptAll(staged).count()
    assert diff == 0, f"{fmt}: {diff} rows differ after round-trip"
