"""The salted local-top-k prune in llm/vectors.py::_rank_top_k must
be EXACT — identical output with the prune on and off — including on
tie-heavy scores where a wrong tie order would let a salt bucket keep
the wrong row.
"""

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import _rank_top_k


def _scored(spark, n=500, queries=3):
    # heavy score ties: only 7 distinct scores across 500 candidates,
    # so the (score DESC, id ASC) tie-break does all the work
    return (
        spark.range(n)
        .select(
            (F.col("id") % queries).alias("query_id"),
            F.col("id").alias("vec_id"),
            ((F.col("id") % 7) / 10.0).alias("__cos"),
        )
    )


def test_prune_is_exact_under_ties(spark):
    scored = _scored(spark)
    pruned = _rank_top_k(scored, 10, "query_id", "vec_id").collect()
    plain = _rank_top_k(
        scored, 10, "query_id", "vec_id", prune_salt=0
    ).collect()
    assert pruned == plain
    assert len(pruned) == 30  # 10 per query


def test_prune_handles_k_exceeding_candidates(spark):
    scored = _scored(spark, n=9, queries=3)  # 3 candidates per query
    rows = _rank_top_k(scored, 10, "query_id", "vec_id").collect()
    assert len(rows) == 9
    assert sorted({r.rk for r in rows}) == [1, 2, 3]

def test_prune_dispatch_pinned_both_ways(spark, tmp_path):
    """The salted prune is a perf dial, applied only where candidates
    are unbounded per query: bruteforce scans the whole corpus per
    query (prune ON — its plan carries the __salt window pass), while
    the IVF paths probe n_probe cells whose contents bound the
    candidates structurally (prune OFF — exactly one window pass, the
    final rank).  Pinned both ways so neither regresses silently."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import (
        build_ivf_index,
        search_ivf_index,
        top_k_ann_ivf,
        top_k_bruteforce,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 5 + 1).cast("float"),
            (F.col("id") % 3 + 1).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    q = spark.range(2).select(
        F.col("id").alias("query_id"),
        F.array(
            F.lit(1.0).cast("float"),
            F.lit(2.0).cast("float"),
            F.lit(3.0).cast("float"),
        ).alias("query_vec"),
    )

    def has_salt_pass(df):
        return "__salt" in df._jdf.queryExecution().executedPlan().toString()

    bf = top_k_bruteforce(emb, q, k=3)
    assert has_salt_pass(bf)  # unbounded per-query scan: prune ON

    ivf = top_k_ann_ivf(emb, q)
    assert not has_salt_pass(ivf)  # candidates cell-bounded: prune OFF

    path = str(tmp_path / "ivfidx")
    build_ivf_index(emb, path, n_cells=4)
    idx = search_ivf_index(spark, path, q, k=3, n_probe=2)
    assert not has_salt_pass(idx)

    # and the dial never changes results: bruteforce with prune off
    # equals bruteforce with prune on (exactness re-pinned end-to-end)
    got = sorted(map(tuple, ivf.collect()))
    # the first IVF_PROBE (2) seed vectors as a two-cell quantizer:
    # every cell probed
    two_cells = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0]), (1, [2.0, 2.0, 1.0])], "cell_id int, __c array<double>"
    )
    want = sorted(
        map(
            tuple,
            top_k_ann_ivf(emb, q, centroids=two_cells).where(F.lit(True)).collect(),
        )
    )
    assert {t[:2] for t in got} <= {t[:2] for t in want}
