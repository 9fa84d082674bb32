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
    # q on the diagonal. d1 = (1, .85) is the most relevant (rel
    # .996729); d2 = (1, .84) is nearly parallel to d1 (rel .996241,
    # sim(d1, d2) ~1); d3 = (.8, 1) mirrors d1 across q (rel .993884,
    # sim(d1, d3) .981708).  Relevance alone ranks d1, d2, d3; at
    # λ = 0.7 the second pick scores d2: .7·.996241 − .3·1.0 = .397
    # vs d3: .7·.993884 − .3·.981708 = .401 → d3 wins the second slot.
    emb = _emb(
        spark,
        [
            (1, [1.0, 0.85]),
            (2, [1.0, 0.84]),
            (3, [0.8, 1.0]),
        ],
    )
    q = _queries(spark, [(0, [1.0, 1.0])])
    out = mmr_rerank(emb, q).collect()
    order = [r.vec_id for r in out]
    assert order[0] == 1  # highest relevance always first
    assert order[1] == 3  # diversity beats redundancy
    assert order[2] == 2
    r2 = out[1]
    # mmr = λ·rel − (1 − λ)·sim(d3, d1)
    assert math.isclose(r2.mmr, 0.7 * r2.rel - 0.3 * 0.981708, abs_tol=2e-6)


def test_mmr_multiple_queries_independent(spark):
    emb = _emb(
        spark,
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1]), (4, [0.1, 0.9])],
    )
    q = _queries(spark, [(10, [1.0, 0.0]), (20, [0.0, 1.0])])
    out = mmr_rerank(emb, q)
    rows = {(r.query_id, r.rk): r.vec_id for r in out.collect()}
    assert rows[(10, 1)] == 1 and rows[(20, 1)] == 2  # per-query argmax


def test_mmr_pool_larger_than_corpus_truncates(spark):
    emb = _emb(spark, [(1, [1.0, 0.0]), (2, [0.5, 0.5])])
    q = _queries(spark, [(0, [1.0, 0.0])])
    out = mmr_rerank(emb, q).collect()
    assert len(out) == 2  # only two candidates exist; no phantom rows
    assert [r.rk for r in out] == [1, 2]


def test_mmr_validation(spark):
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank_candidates

    emb = _emb(spark, [(1, [1.0, 0.0])])
    cand = spark.createDataFrame([(0, 1, 0.9)], "query_id long, vec_id long, rel double")
    with pytest.raises(ValueError):
        mmr_rerank_candidates(cand, emb, k=0)


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
        [("q1", "doc-a", 0.9), ("q1", "doc-b", 0.89), ("q1", "doc-c", 0.85)],
        "query_id string, vec_id string, rel double",
    )
    rows = mmr_rerank_candidates(cand, emb, k=2).orderBy("rk").collect()
    assert [r.vec_id for r in rows] == ["doc-a", "doc-c"]  # diverse beats redundant
    assert rows[0].query_id == "q1" and isinstance(rows[0].vec_id, str)


def test_mmr_candidates_respects_external_relevance_order(spark):
    """rel is taken as-given (RRF scores, model scores): with mutually
    orthogonal candidates no diversity penalty applies, so the picks
    are exactly the rel order and each later score is λ·rel."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import mmr_rerank_candidates

    emb = _emb(
        spark, [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
    )
    cand = spark.createDataFrame(
        [(0, 3, 0.3), (0, 2, 0.2), (0, 1, 0.1)],
        "query_id long, vec_id long, rel double",
    )
    rows = mmr_rerank_candidates(cand, emb, k=3).orderBy("rk").collect()
    assert [r.vec_id for r in rows] == [3, 2, 1]
    assert [r.mmr for r in rows] == [0.3, 0.14, 0.07]


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
    rows = mmr_rerank_candidates(cand, emb, k=2).orderBy("rk").collect()
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
        for r in mmr_rerank_candidates(cand, emb, k=3)
        .orderBy("query_id", "rk")
        .collect()
    ]
    assert rows == [
        ("q1", "a", 0.9, 0.9, 1),
        ("q1", "b", 0.89, 0.324501, 2),
        ("q1", "c", 0.7, 0.257737, 3),
        ("q2", "d", 0.8, 0.8, 1),
        ("q2", "a", 0.75, 0.525, 2),
        ("q2", "b", 0.6, 0.121501, 3),
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
        for r in mmr_rerank_candidates(cand, emb, k=2)
        .orderBy("rk")
        .collect()
    ]
    assert rows == [(0, big, 0.9, 0.9, 1), (0, big + 1, 0.8, 0.272652, 2)]
