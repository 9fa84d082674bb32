"""Ragged / zero / empty / NULL embedding injection over the vector
twins (round 8 — extra injection class beyond the three VERDICT asks).

The r7 non-finite campaign covered NaN/Inf/NULL COMPONENTS inside
well-shaped 64-dim vectors; this class covers malformed SHAPES real
embedding pipelines emit.  The exploration run
(scripts/probe_ragged_vectors.py at c84e9fc) failed ALL TEN vector entries:

- zero-norm vectors (failed encoder batch) → ANSI DIVIDE_BY_ZERO
  job-aborts in the cosine (llm/vectors.py:196/:406);
- truncated/extended vectors → DuckDB ``list_inner_product`` hard
  error ("list dimensions must be equal") while Spark's ``zip_with``
  NULL-pads — divergent AND wrong;
- empty arrays → ``__n * 0.0`` divide-by-zero in the generated
  plane SQL;
- int8 quantization per-dim stats silently misaligned over ragged
  arrays.

Fix (pinned here): the well-shaped entry gate — ``finite_vec(c,
dim=EMBEDDING_DIM)`` at every entry's embeddings load
(plans/llm_queries.py::_load_embeddings) and the matching dim/norm
arms in ``VEC_OK_SQL``.  The declared dimensionality is the same
constant the frozen LSH planes are drawn at; operators stay
dim-agnostic for reuse at other dims.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

ENTRIES = [
    "vec_top_k_bruteforce",
    "vec_top_k_ann_signlsh",
    "vec_top_k_ann_ivf",
    "vec_cosine_near_dup",
    "vec_cosine_near_dup_pinned",
    "vec_centroid_distance",
    "vec_quantize_int8",
    "vec_ivf_index_search",
    "vec_ann_exhaustive_equiv",
    "corpus_semantic_dedup",
]


@pytest.fixture(scope="module")
def ragged_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("ragged_sf")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if t == "embeddings":
            sel = (
                "SELECT * REPLACE ((CASE "
                "WHEN hash(vec_id) % 23 = 0 THEN embedding[1:3] "
                "WHEN hash(vec_id) % 23 = 1 THEN CAST([] AS FLOAT[]) "
                "WHEN hash(vec_id) % 23 = 2 THEN NULL "
                "WHEN hash(vec_id) % 23 = 3 THEN "
                "list_transform(embedding, x -> CAST(0.0 AS FLOAT)) "
                "WHEN hash(vec_id) % 23 = 4 THEN "
                "embedding || [CAST(0.25 AS FLOAT)] "
                f"ELSE embedding END) AS embedding) FROM read_parquet('{p}')"
            )
        else:
            sel = f"SELECT * FROM read_parquet('{p}')"
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    n_bad = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/embeddings.parquet') "
        "WHERE embedding IS NULL OR len(embedding) <> 64"
    ).fetchone()[0]
    assert n_bad > 0, "no ragged vectors injected"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(ragged_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(ragged_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_ragged_vectors(spark, ragged_dir, duck, name, check):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    try:
        problems = check.compare(
            name, spark, duck, ragged_dir, queries[name], oracles[name]
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
