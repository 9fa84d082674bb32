"""Fixed-iteration PageRank (operators/graph.py).

Pins: brute-force equivalence against a pure-python reference on
randomized graphs (the join/agg formulation has plenty of
silent-wrong surface: degree on the wrong side, missed symmetrize,
per-iteration rounding), rank-mass conservation (no dangling nodes on
a symmetrized pair relation ⇒ Σr = 1), the DuckDB unrolled twin,
self-loop/NULL hygiene, and partition invariance.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.graph import (
    DAMPING as D,
    ITERATIONS as ITERS,
    _loop_width,
    pagerank,
    pagerank_sql,
)


def _brute(pairs, iterations=ITERS, damping=D):
    edges = {}
    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        edges.setdefault(a, set()).add(b)
        edges.setdefault(b, set()).add(a)
    nodes = sorted(edges)
    n = len(nodes)
    if n == 0:
        return []
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            s = sum(r[u] / len(edges[u]) for u in edges[v])
            nxt[v] = (1 - damping) / n + damping * s
        r = nxt
    out = [(v, len(edges[v]), round(r[v], 6)) for v in nodes]
    return sorted(out, key=lambda t: (-t[2], t[0]))


def _spark_pr(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    try:
        return [tuple(r) for r in pagerank(df).collect()]
    finally:
        release_staging()


def _rand_pairs(seed, n_nodes, n_edges):
    rng = random.Random(seed)
    seen = set()
    while len(seen) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    return sorted(seen)


def test_path_ends_rank_below_middles(spark):
    # P4 path 0-1-2-3: interior nodes receive from two sides, ends
    # from one — a shape with REAL rank asymmetry (regular components
    # like cliques all converge to the uniform 1/N, so they can't
    # distinguish a broken update rule from a correct one)
    path = [(0, 1), (1, 2), (2, 3)]
    got = _spark_pr(spark, path)
    assert got == _brute(path)
    ranks = dict((v, r) for v, _, r in got)
    assert ranks[1] > ranks[0] and ranks[2] > ranks[3]


def test_star_center_dominates(spark):
    star = [(0, i) for i in range(1, 9)]
    got = _spark_pr(spark, star)
    assert got == _brute(star)
    assert got[0][0] == 0  # hub ranks first


def test_brute_force_randomized(spark):
    for seed in (1, 2, 3):
        pairs = _rand_pairs(seed, n_nodes=30, n_edges=60)
        assert _spark_pr(spark, pairs) == _brute(pairs)


def test_rank_mass_conserved(spark):
    pairs = _rand_pairs(9, n_nodes=25, n_edges=50)
    got = _spark_pr(spark, pairs)
    assert abs(sum(r for _, _, r in got) - 1.0) < 1e-4


def test_self_loops_and_nulls_dropped(spark):
    rows = [(1, 2), (2, 3), (4, 4), (None, 5), (6, None)]
    got = _spark_pr(spark, rows)
    assert got == _brute(rows)
    assert {v for v, _, _ in got} == {1, 2, 3}


def test_twin_matches_brute_force():
    pairs = _rand_pairs(7, n_nodes=20, n_edges=35)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE p AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?)" for _ in pairs)
        + ") AS t(id_a, id_b)",
        [x for pr in pairs for x in pr],
    )
    got = [
        tuple(r)
        for r in con.execute(
            pagerank_sql("SELECT id_a, id_b FROM p")
        ).fetchall()
    ]
    assert got == _brute(pairs)


def test_loop_width_follows_symmetrized_edges():
    # the loop relations hold both directions of every pair: 1.5M
    # pairs are 3M directed edges, two ~2M-edge partitions, not one
    assert _loop_width(1_500_000, 4) == 2
    assert _loop_width(999_999, 4) == 1
    assert _loop_width(1_000_001, 4) == 2
    assert _loop_width(0, 4) == 1
    assert _loop_width(10**9, 4) == 4


def test_partition_invariance(spark):
    pairs = _rand_pairs(5, n_nodes=22, n_edges=44)
    want = None
    for parts in (1, 3, 17):
        df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint").repartition(
            parts
        )
        try:
            got = [tuple(r) for r in pagerank(df).collect()]
        finally:
            release_staging()
        if want is None:
            want = got
        else:
            assert got == want, f"ranks differ at {parts} partitions"


# ---------------------------------------------------------------------
# weighted PageRank (r10)
# ---------------------------------------------------------------------


def _brute_weighted(pairs, iterations=ITERS, damping=D):
    edges = {}
    for a, b, w in pairs:
        if a is None or b is None or a == b:
            continue
        edges.setdefault(a, {})
        edges.setdefault(b, {})
        edges[a][b] = max(edges[a].get(b, 0.0), w)
        edges[b][a] = max(edges[b].get(a, 0.0), w)
    nodes = sorted(edges)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            s = 0.0
            for u, nbrs in edges.items():
                if v in nbrs:
                    s += r[u] * nbrs[v] / sum(nbrs.values())
            nxt[v] = (1 - damping) / n + damping * s
        r = nxt
    out = [(v, len(edges[v]), round(r[v], 6)) for v in nodes]
    return sorted(out, key=lambda t: (-t[2], t[0]))


def _wpairs(spark, pairs):
    return spark.createDataFrame(
        pairs, "id_a bigint, id_b bigint, jaccard double"
    )


def test_weighted_matches_brute_force(spark):
    rng = random.Random(7)
    pairs = []
    seen = set()
    for _ in range(40):
        a, b = rng.randint(1, 15), rng.randint(1, 15)
        if a == b or (min(a, b), max(a, b)) in seen:
            continue
        seen.add((min(a, b), max(a, b)))
        pairs.append((min(a, b), max(a, b), round(rng.uniform(0.1, 1.0), 6)))
    got = [
        tuple(r)
        for r in pagerank(_wpairs(spark, pairs), weight="jaccard").collect()
    ]
    release_staging()
    assert got == _brute_weighted(pairs)


def test_weighted_twin_agrees(spark):
    pairs = [(1, 2, 0.9), (2, 3, 0.2), (1, 3, 0.5), (3, 4, 1.0)]
    got = [
        tuple(r)
        for r in pagerank(_wpairs(spark, pairs), weight="jaccard").collect()
    ]
    release_staging()
    rows = ", ".join(f"({a},{b},{w})" for a, b, w in pairs)
    sql = pagerank_sql(
        f"SELECT * FROM (VALUES {rows}) AS t(id_a, id_b, jaccard)",
        weight="jaccard",
    )
    want = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert got == want


def test_weighted_uniform_weights_equal_unweighted(spark):
    """Constant weights cancel in r·w/Σw — the weighted update must
    reduce to the unweighted one exactly."""
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    got_u = [
        tuple(r)
        for r in pagerank(
            spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        ).collect()
    ]
    got_w = [
        tuple(r)
        for r in pagerank(
            _wpairs(spark, [(a, b, 0.7) for a, b in pairs]),
            weight="jaccard",
        ).collect()
    ]
    release_staging()
    assert got_u == got_w


def test_weighted_skew_pulls_rank(spark):
    """A node whose edges carry all the weight mass receives the rank:
    on the path 1-2-3 with w(1,2)=1.0, w(2,3)=0.01, node 1 must
    out-rank node 3 (unweighted, they tie by symmetry)."""
    got = {
        r.id: r.rank
        for r in pagerank(
            _wpairs(spark, [(1, 2, 1.0), (2, 3, 0.01)]), weight="jaccard"
        ).collect()
    }
    release_staging()
    assert got[1] > got[3]


def test_weighted_rejects_bad_weights(spark):
    for bad in ([(1, 2, 0.0)], [(1, 2, -1.0)], [(1, 2, None)]):
        with pytest.raises(ValueError, match="positive"):
            pagerank(_wpairs(spark, bad), weight="jaccard")
    release_staging()


def test_weighted_duplicate_edges_merge_max_deterministically(spark):
    """Two spellings of one edge with different weights merge to the
    MAX — never a partition-dependent pick."""
    dup = [(1, 2, 0.3), (2, 1, 0.8), (2, 3, 0.5)]
    want = [
        tuple(r)
        for r in pagerank(
            _wpairs(spark, [(1, 2, 0.8), (2, 3, 0.5)]), weight="jaccard"
        ).collect()
    ]
    for parts in (1, 3, 17):
        got = [
            tuple(r)
            for r in pagerank(
                _wpairs(spark, dup).repartition(parts), weight="jaccard"
            ).collect()
        ]
        assert got == want, f"differs at {parts} partitions"
    release_staging()
