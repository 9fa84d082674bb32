"""Duplicate-dimension-key injection over the join-family twins
(round 8 — class 2c of the VERDICT r7 ask).

Real warehouses grow duplicate dimension rows (replayed CDC loads,
bad upstream merges).  An equi-join must fan out identically in both
engines, and any HIDDEN uniqueness assumption — a dropDuplicates on
one side of the Spark plan the SQL twin lacks, an argmax silently
relying on one-row-per-key, a last-write-wins broadcast dict — shows
up as a hash mismatch.  The fixture appends exact-duplicate PK rows
with a MUTATED attribute value (so collapsing duplicates in only one
engine changes values, not just counts) for a hash-chosen key slice
of nation/customer/part/supplier.

The exploration run (scripts/probe_dup_dim_keys.py at c84e9fc) found all 24
join-family entries already agree; this suite pins that.
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

#: table -> (pk, attribute mutated on the duplicate row, hash modulus)
_DUPES = {
    "nation": ("n_nationkey", "n_name", 5),
    "customer": ("c_custkey", "c_mktsegment", 17),
    "part": ("p_partkey", "p_type", 19),
    "supplier": ("s_suppkey", "s_name", 7),
}

ENTRIES = [
    "master_table",
    "join_inner_chain",
    "join_variants_panel",
    "join_left_outer_zero_orders",
    "join_semi",
    "join_anti",
    "salted_join_segments",
    "set_ops_panel",
    "dq_constraints_panel",
    "dashboard_tiles",
    "dashboard_metrics_panel",
    "dashboard_top_nations",
    "sql_revenue_by_nation",
    "stream_static_enrich",
    "stream_joins_panel",
    "flagship_category_distribution",
]


@pytest.fixture(scope="module")
def dup_dim_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("dup_dim_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t in _DUPES:
            pk, attr, mod = _DUPES[t]
            sel = (
                f"SELECT * FROM read_parquet('{p}') "
                "UNION ALL "
                f"SELECT * REPLACE (({attr} || '_DUP') AS {attr}) "
                f"FROM read_parquet('{p}') WHERE hash({pk}) % {mod} = 0"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_dup = con.execute(
        f"SELECT count(*) - count(DISTINCT n_nationkey) "
        f"FROM read_parquet('{out}/nation.parquet')"
    ).fetchone()[0]
    assert n_dup > 0, "no duplicate dimension keys injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(dup_dim_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(dup_dim_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_dup_dim_keys(spark, dup_dim_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, dup_dim_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
