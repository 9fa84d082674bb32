"""Triangle counting / clustering coefficient (operators/graph.py,
r10) and the cross-corpus Jaccard join (llm/dedup.py, r10)."""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
    ngram_jaccard_join,
    ngram_jaccard_join_sql,
    ngram_jaccard_pairs,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.graph import (
    triangle_counts,
    triangle_counts_sql,
)


def _tri(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {
        r.id: (r.degree, r.triangles, r.clustering)
        for r in triangle_counts(df).collect()
    }
    release_staging()
    return out


def test_triangle_plus_tail():
    """Hand-checkable: triangle 1-2-3 with a tail 3-4."""
    want = {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, round(2 * 1 / (3 * 2), 6)),
        4: (1, 0, 0.0),
    }
    sql = triangle_counts_sql(
        "SELECT * FROM (VALUES (1,2),(2,3),(1,3),(3,4)) AS t(id_a, id_b)"
    )
    got_sql = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.connect().execute(sql).fetchall()
    }
    assert got_sql == want


def test_triangle_spark_matches_twin(spark):
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (6, 7)]
    got = _tri(spark, edges)
    rows = ", ".join(f"({a},{b})" for a, b in edges)
    sql = triangle_counts_sql(
        f"SELECT * FROM (VALUES {rows}) AS t(id_a, id_b)"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.connect().execute(sql).fetchall()
    }
    assert got == want


def test_triangle_canonicalizes_dirty_edges(spark):
    """Swapped duplicates, verbatim repeats, self-loops, and NULL
    endpoints must not create phantom triangles or inflate degrees."""
    edges = [
        (1, 2), (2, 1), (1, 2),       # one edge, three spellings
        (2, 3), (1, 3),
        (3, 3),                        # self-loop: dropped
        (None, 4), (4, None),          # NULL endpoints: dropped
    ]
    got = _tri(spark, edges)
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (2, 1, 1.0),
    }


def test_clique_clustering_is_one_and_path_is_zero(spark):
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = _tri(spark, k4)
    assert all(v == (3, 3, 1.0) for v in got.values())
    path = [(i, i + 1) for i in range(1, 5)]
    got = _tri(spark, path)
    assert all(tri == 0 and cl == 0.0 for (_, tri, cl) in got.values())


def test_cross_corpus_join_matches_self_join_on_split(spark):
    """Splitting one corpus in two and R-S-joining across must find
    exactly the self-join's CROSS pairs (pairs within one side are
    out of scope by definition)."""
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta iota",   # ~1
        3: "one two three four five six seven eight",
        4: "one two three four five six seven nine",         # ~3
        5: "unrelated content words that match nothing else",
        6: "alpha beta gamma delta epsilon zeta eta kappa",   # ~1, ~2
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    all_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df).collect()
    }
    release_staging()
    left = df.where("doc_id % 2 = 0")
    right = df.where("doc_id % 2 = 1")
    got = {
        (r.id_l, r.id_r): r.jaccard
        for r in ngram_jaccard_join(left, right).collect()
    }
    release_staging()
    want = {
        (a if a % 2 == 0 else b, b if a % 2 == 0 else a): j
        for (a, b), j in all_pairs.items()
        if (a % 2) != (b % 2)
    }
    assert got == want and got, "cross pairs must match and be non-empty"


def test_cross_corpus_join_twin_agrees(spark, tmp_path):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "totally different words in here now"),
        (4, "totally different words in here too"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    sql = ngram_jaccard_join_sql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    got = sorted(
        (r.id_l, r.id_r, r.jaccard)
        for r in ngram_jaccard_join(
            df.where("doc_id % 2 = 0"),
            df.where("doc_id % 2 = 1"),
        ).collect()
    )
    release_staging()
    assert got == want


def test_split_leakage_report_counts_planted_leaks(spark, tmp_path):
    """Compose-level pin for pipeline_split_leakage: plant an exact
    near-dup of a train doc into each eval split and the report must
    count exactly those docs (and stay NULL/0 on a clean corpus)."""
    import duckdb as _duck

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.sampling import split_assign
    from yelp_review_data_analysis_using_big_data_technologies_spark.plans import llm_queries as lq
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

    # build a corpus where split membership is known post-hoc: assign
    # splits first, then clone one train doc's text onto one val and
    # one test doc (ids keep their original split assignment)
    base = [
        (i, f"unique doc {i} " + " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(60)
    ]
    df = spark.createDataFrame(base, "doc_id long, text string")
    assigned = {r.doc_id: r.split for r in split_assign(df).collect()}
    train_ids = [i for i, s in assigned.items() if s == "train"]
    val_ids = [i for i, s in assigned.items() if s == "val"]
    test_ids = [i for i, s in assigned.items() if s == "test"]
    assert train_ids and val_ids and test_ids, assigned
    leak_text = dict(base)[train_ids[0]]
    rows = [
        (i, leak_text if i in (val_ids[0], test_ids[0]) else t)
        for i, t in base
    ]
    out = tmp_path / "leak_sf"
    out.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    import shutil

    for t in TABLES:
        src = f"/root/testdata/sf0.001/{t}.parquet"
        if t != "documents" and os.path.exists(src):
            shutil.copy(src, str(out / f"{t}.parquet"))
    rep = {
        r.split: r for r in lq.pipeline_split_leakage(spark, str(out)).collect()
    }
    release_staging()
    assert rep["val"].n_leaked == 1 and rep["test"].n_leaked == 1
    assert rep["val"].max_jaccard == 1.0 and rep["test"].max_jaccard == 1.0
    # twin agrees on the same fixture
    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{out}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: r for r in con.execute(lq.ORACLES["pipeline_split_leakage"]).fetchall()
    }
    got = {
        s: (r.split, r.n_docs, r.n_leaked, r.n_pairs, r.max_jaccard, r.leak_frac)
        for s, r in rep.items()
    }
    assert got == want
