"""k-core peel (operators/graph.py::k_core): clique-vs-chain
separation, the fixed-iteration convergence contract, and the dirty-
edge canonicalization shared with the rest of the graph family.
"""

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.graph import PEEL_ROUNDS, k_core


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )


def _run(spark, edges):
    return {
        r.id: r.degree for r in k_core(_pairs(spark, edges)).collect()
    }


def test_triangle_survives_chain_peels(spark):
    # triangle 1-2-3 plus chain 10-11-12: the chain has no 2-core
    got = _run(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)])
    assert got == {1: 2, 2: 2, 3: 2}


def test_star_fully_peels(spark):
    # hub + 5 leaves: leaves are degree-1, then the hub is isolated
    assert _run(spark, [(0, i) for i in range(1, 6)]) == {}


def test_bridge_between_cliques_peels_but_cliques_stay(spark):
    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    got = _run(spark, k4a + k4b + [(4, 11)])
    # both K4s survive; the bridge edge survives TOO (k-core keeps
    # every edge between core nodes), so its endpoints report 4
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 11: 4, 12: 3, 13: 3, 14: 3}


def test_fixed_iterations_report_residual_degree(spark):
    # a 21-node path peels 2 nodes per round; after PEEL_ROUNDS (6)
    # rounds the middle 9 remain UNCONVERGED and report their residual
    # degree — the documented fixed-iteration contract; a path short
    # enough for the rounds peels away entirely
    assert PEEL_ROUNDS == 6
    path = [(i, i + 1) for i in range(20)]
    got = _run(spark, path)
    assert set(got) == set(range(6, 15))
    assert got[6] == 1 and got[10] == 2
    assert _run(spark, [(i, i + 1) for i in range(11)]) == {}


def test_dirty_edges_canonicalize(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (None, 2), (3, None)],
        "id_a long, id_b long",
    )
    got = {r.id: r.degree for r in k_core(pairs).collect()}
    assert got == {1: 2, 2: 2, 3: 2}

