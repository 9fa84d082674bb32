"""Semantic cluster balance (r15): even token mass across frozen-seed
embedding clusters, and the optional balance="cluster" freeze stage.
"""

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.sampling import cluster_balance_sample
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.plans import llm_queries as lq


def test_balances_token_mass_across_semantic_clusters(spark):
    """Two embedding topics with a 10:1 token imbalance: the smaller
    cluster keeps everything, the dominant one downsamples toward
    the smaller one's token total (hash-threshold granularity)."""
    # ids 0 and 1 seed the two centroids (smallest ids); topic A =
    # +x axis (ids 0, 2..201), topic B = +y axis (ids 1, 202..221)
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(0, a), (1, b)]
        + [(i, [1.0, 0.01 * (i % 7), 0.0, 0.0]) for i in range(2, 202)]
        + [(i, [0.01 * (i % 5), 1.0, 0.0, 0.0]) for i in range(202, 222)],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(i, 5) for i in range(222)], "doc_id long, n_tokens long"
    )
    kept = cluster_balance_sample(docs, emb, n_cells=2).collect()
    by_cluster = {}
    for r in kept:
        c = by_cluster.setdefault(r["cluster_id"], [0, 0])
        c[0] += 1
        c[1] += r["n_tokens"]
    # topic B (cluster 1): 21 docs -> fully kept (smallest cluster)
    assert by_cluster["1"] == [21, 105]
    # topic A (cluster 0): 201 docs downsampled toward B's 105 tokens
    n_a, tok_a = by_cluster["0"]
    assert 0 < n_a < 201
    assert tok_a < 1005 / 2  # well below its own mass
    # deterministic: same result on a second run
    again = cluster_balance_sample(docs, emb, n_cells=2).collect()
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
