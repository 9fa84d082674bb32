"""MMR re-rank suite (llm/vectors.py::mmr_rerank): the greedy
diversity selection pinned on a hand-computable geometry where pure
relevance and MMR disagree, plus the bounded-pool and validation
contracts.
"""

import math

import pytest

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank


def _emb(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _queries(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "query_id long, query_vec array<float>",
    )


def test_mmr_prefers_diverse_over_redundant(spark):
    # q = e_x. d1 = e_x (rel 1.0); d2 nearly parallel to d1 (rel ~.995,
    # sim(d1,d2) ~.995); d3 at 45° (rel ~.707, sim(d1,d3) ~.707).
    # Relevance alone ranks d1,d2,d3; with λ=0.5 the second pick is
    # 0.5·.995 − 0.5·.995 ≈ 0 for d2 vs 0.5·.707 − 0.5·.707·... — d3's
    # penalty is its sim to d1 (~.707): 0.5·.707−0.5·.707=0 too — use
    # λ=0.4 so the redundant doc loses: d2: .4·.995−.6·.995 = −.199;
    # d3: .4·.707−.6·.707 = −.1414 → d3 wins the second slot.
    emb = _emb(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.995, 0.0999]),
            (3, [0.7071, 0.7071]),
        ],
    )
    q = _queries(spark, [(0, [1.0, 0.0])])
    out = mmr_rerank(emb, q, k=3, pool=3, lam=0.4).collect()
    order = [r.vec_id for r in out]
    assert order[0] == 1  # highest relevance always first
    assert order[1] == 3  # diversity beats redundancy
    assert order[2] == 2
    r2 = out[1]
    # d1 == q, so sim(d3, d1) == rel(d3):
    # mmr = 0.4·rel − 0.6·rel = −0.2·rel
    assert math.isclose(r2.mmr, -0.2 * r2.rel, abs_tol=2e-6)


def test_mmr_lambda_one_is_pure_relevance(spark):
    emb = _emb(
        spark,
        [(1, [1.0, 0.0]), (2, [0.995, 0.0999]), (3, [0.7071, 0.7071])],
    )
    q = _queries(spark, [(0, [1.0, 0.0])])
    out = mmr_rerank(emb, q, k=3, pool=3, lam=1.0).collect()
    assert [r.vec_id for r in out] == [1, 2, 3]  # relevance order kept


def test_mmr_multiple_queries_independent(spark):
    emb = _emb(
        spark,
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1]), (4, [0.1, 0.9])],
    )
    q = _queries(spark, [(10, [1.0, 0.0]), (20, [0.0, 1.0])])
    out = mmr_rerank(emb, q, k=2, pool=4, lam=0.9)
    rows = {(r.query_id, r.rk): r.vec_id for r in out.collect()}
    assert rows[(10, 1)] == 1 and rows[(20, 1)] == 2  # per-query argmax


def test_mmr_pool_larger_than_corpus_truncates(spark):
    emb = _emb(spark, [(1, [1.0, 0.0]), (2, [0.5, 0.5])])
    q = _queries(spark, [(0, [1.0, 0.0])])
    out = mmr_rerank(emb, q, k=4, pool=4, lam=0.5).collect()
    assert len(out) == 2  # only two candidates exist; no phantom rows
    assert [r.rk for r in out] == [1, 2]


def test_mmr_validation(spark):
    emb = _emb(spark, [(1, [1.0, 0.0])])
    q = _queries(spark, [(0, [1.0, 0.0])])
    with pytest.raises(ValueError):
        mmr_rerank(emb, q, k=0)
    with pytest.raises(ValueError):
        mmr_rerank(emb, q, k=5, pool=3)
    with pytest.raises(ValueError):
        mmr_rerank(emb, q, lam=1.5)


def test_mmr_candidates_generic_id_types(spark):
    """mmr_rerank_candidates is generic over id types (r10 advice):
    STRING doc ids and a string query id must round-trip losslessly
    through the grouped map's output schema — a hardcoded-bigint
    schema fails here."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank_candidates

    emb = spark.createDataFrame(
        [
            ("doc-a", [1.0, 0.0]),
            ("doc-b", [0.99, 0.14]),
            ("doc-c", [0.7, 0.7]),
        ],
        "vec_id string, embedding array<float>",
    )
    cand = spark.createDataFrame(
        [("q1", "doc-a", 0.9), ("q1", "doc-b", 0.89), ("q1", "doc-c", 0.7)],
        "query_id string, vec_id string, rel double",
    )
    rows = mmr_rerank_candidates(cand, emb, k=2, lam=0.5).orderBy("rk").collect()
    assert [r.vec_id for r in rows] == ["doc-a", "doc-c"]  # diverse beats redundant
    assert rows[0].query_id == "q1" and isinstance(rows[0].vec_id, str)


def test_mmr_candidates_respects_external_relevance_order(spark):
    """rel is taken as-given (RRF scores, model scores): with lam=1
    the picks are exactly the rel order, whatever geometry says."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank_candidates

    emb = _emb(spark, [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])])
    cand = spark.createDataFrame(
        [(0, 3, 0.3), (0, 2, 0.2), (0, 1, 0.1)],
        "query_id long, vec_id long, rel double",
    )
    rows = mmr_rerank_candidates(cand, emb, k=3, lam=1.0).orderBy("rk").collect()
    assert [r.vec_id for r in rows] == [3, 2, 1]
    assert [r.mmr for r in rows] == [0.3, 0.2, 0.1]


def test_mmr_candidates_duplicate_rows_keep_max_rel(spark):
    """Duplicate (query_id, id) candidate rows resolve to the MAX rel
    deterministically (r11 advice): last-row-wins would make a
    duplicated candidate's score — and therefore the greedy pick
    order — depend on partition layout."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank_candidates

    emb = _emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    # vec 2 appears twice: once losing to vec 1 (0.1), once winning
    # (0.9).  Max-rel resolution must rank vec 2 first with rel 0.9;
    # last-row-wins would flip the order depending on row order.
    cand = spark.createDataFrame(
        [(0, 2, 0.1), (0, 1, 0.5), (0, 2, 0.9)],
        "query_id long, vec_id long, rel double",
    ).repartition(3)
    rows = mmr_rerank_candidates(cand, emb, k=2, lam=1.0).orderBy("rk").collect()
    assert [(r.vec_id, r.rel) for r in rows] == [(2, 0.9), (1, 0.5)]


def test_mmr_string_ids_with_duplicate_candidate(spark):
    """Two queries over string ids, one candidate listed twice: the
    grouped greedy resolves the duplicate to its max rel and picks the
    pinned sequence per query (same _mmr_greedy_pool arithmetic and
    tie-breaks as the DuckDB twin)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank_candidates

    emb = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("b", [0.995, 0.0999]),
            ("c", [0.7071, 0.7071]),
            ("d", [0.0, 1.0]),
        ],
        "vec_id string, embedding array<float>",
    )
    cand = spark.createDataFrame(
        [
            ("q1", "a", 0.9),
            ("q1", "b", 0.89),
            ("q1", "c", 0.7),
            ("q1", "c", 0.2),  # duplicate: max-rel resolution
            ("q2", "d", 0.8),
            ("q2", "a", 0.75),
            ("q2", "b", 0.6),
        ],
        "query_id string, vec_id string, rel double",
    )
    rows = [
        tuple(r)
        for r in mmr_rerank_candidates(cand, emb, k=3, lam=0.4)
        .orderBy("query_id", "rk")
        .collect()
    ]
    assert rows == [
        ("q1", "a", 0.9, 0.9, 1),
        ("q1", "c", 0.7, -0.144264, 2),
        ("q1", "b", 0.89, -0.240999, 3),
        ("q2", "d", 0.8, 0.8, 1),
        ("q2", "a", 0.75, 0.3, 2),
        ("q2", "b", 0.6, -0.356999, 3),
    ]


def test_mmr_large_int64_ids_survive(spark):
    """Large int64 ids must survive the grouped map (the rel rows ride
    under a boolean marker, not a NULL id that would force pandas to
    float64)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank_candidates

    big = 2**55  # would corrupt under a float64 round-trip
    emb = spark.createDataFrame(
        [(big + i, [1.0, float(i) * 0.3]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    cand = spark.createDataFrame(
        [(0, big, 0.9), (0, big + 1, 0.8), (0, big + 2, 0.7)],
        "query_id long, vec_id long, rel double",
    )
    rows = [
        tuple(r)
        for r in mmr_rerank_candidates(cand, emb, k=2, lam=0.5)
        .orderBy("rk")
        .collect()
    ]
    assert rows == [(0, big, 0.9, 0.9, 1), (0, big + 2, 0.7, -0.078747, 2)]
