"""Semantic cluster balance (r15): even token mass across frozen-seed
embedding clusters, and the optional balance="cluster" freeze stage.
"""

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.sampling import (
    BALANCE_CELLS,
    cluster_balance_sample,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.plans import llm_queries as lq


def test_balances_token_mass_across_semantic_clusters(spark):
    """One embedding topic holds 10x the token mass of each other
    topic: the smaller clusters keep everything, the dominant one
    downsamples toward their token total (hash-threshold
    granularity)."""
    # ids 0..7 seed the eight centroids (smallest ids), one per axis;
    # topic 0 = ids 0, 8..207, topic c = id c + 20 more per axis
    def axis(c, off=0.0, other=None):
        v = [0.0] * BALANCE_CELLS
        v[c] = 1.0
        if other is not None:
            v[other] = off
        return v

    rows = [(c, axis(c)) for c in range(BALANCE_CELLS)]
    rows += [(i, axis(0, 0.01 * (i % 7), 1)) for i in range(8, 208)]
    nxt = 208
    for c in range(1, BALANCE_CELLS):
        rows += [(nxt + j, axis(c, 0.01 * (j % 5), 0)) for j in range(20)]
        nxt += 20
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(
        [(i, 5) for i in range(nxt)], "doc_id long, n_tokens long"
    )
    kept = cluster_balance_sample(docs, emb).collect()
    by_cluster = {}
    for r in kept:
        c = by_cluster.setdefault(r["cluster_id"], [0, 0])
        c[0] += 1
        c[1] += r["n_tokens"]
    # topics 1..7: 21 docs each -> fully kept (the smallest clusters)
    for c in range(1, BALANCE_CELLS):
        assert by_cluster[str(c)] == [21, 105]
    # topic 0: 201 docs downsampled toward the others' 105 tokens
    n_a, tok_a = by_cluster["0"]
    assert 0 < n_a < 201
    assert tok_a < 1005 / 2  # well below its own mass
    # deterministic: same result on a second run
    again = cluster_balance_sample(docs, emb).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, kept))


def test_cluster_balance_is_a_freeze_stage(spark):
    """_freeze_manifest(balance='cluster') must produce a manifest
    with the SAME schema and invariants as the lang freeze (dense
    positions, round-robin shards) over the cluster-balanced doc
    set."""
    sf = "/root/testdata/sf0.001"
    try:
        lang = lq._freeze_manifest(spark, sf)
        clus = lq._freeze_manifest(spark, sf, balance="cluster")
        assert clus.schema == lang.schema
        rows = clus.orderBy("position").collect()
    finally:
        release_staging()
    assert rows, "cluster-balanced freeze is empty"
    assert [r["position"] for r in rows] == list(range(len(rows)))
    n_shards = len({r["shard"] for r in rows})
    for r in rows:
        assert r["shard"] == r["position"] % n_shards
