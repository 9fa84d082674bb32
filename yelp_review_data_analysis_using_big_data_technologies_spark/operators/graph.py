"""Fixed-iteration PageRank over an undirected pair relation
(SURVEY.md §2 graph family — the ranking complement to
``llm/clusters.py``'s connected components).

Connected components answer "which docs form one duplicate cluster?";
PageRank answers "which member is the cluster's CENTER?" — the doc
sharing edges with the most (and best-connected) near-duplicates,
which is the natural keep-candidate for representative dedup and the
standard importance prior for link-shaped corpora.

Semantics (the classic Brin–Page formulation, damping ``d``):

    r_{k+1}(v) = (1 - d) / N  +  d · Σ_{u ∈ nbrs(v)} r_k(u) / deg(u)

run for a FIXED number of iterations from the uniform start
``r_0 = 1/N``.  Fixed iterations, not convergence-test termination:
the result is a pure deterministic function of the edge set, so the
DuckDB twin can unroll the same K update steps as nested CTEs and the
driver can hash both engines' outputs — convergence thresholds would
couple termination to float noise.  On a symmetrized pair relation
every node has degree ≥ 1, so there are no dangling nodes and rank
mass is conserved (Σr = 1, pinned in tests).

Plan shape (the 100-TB story): per iteration one shuffle join of the
|V|-row rank relation onto the |E|-row edge relation (shuffle key =
node id) and one partial aggregate back to |V| rows — the classic
Pregel-as-joins form.  Each iteration's rank relation is staged
(persisted) so the lineage stays one-iteration deep instead of
compounding K joins into one plan; K is a small constant (default 5).
No driver-side collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage

#: PageRank update steps and damping, shared with the twin's unroll.
ITERATIONS = 5
DAMPING = 0.85

#: k-core peel: keep nodes of degree >= ``CORE_K``, for ``PEEL_ROUNDS``
#: rounds (the twin unrolls the same rounds).
CORE_K = 2
PEEL_ROUNDS = 6


def _loop_width(n_pairs: int, parallelism: int) -> int:
    """Partition count for PageRank's loop relations: ~2M edges per
    partition, floor 1, ceiling ``parallelism``.  Sized from the
    SYMMETRIZED edge bound ``2 * n_pairs`` — each undirected pair
    becomes two directed edges, so the relations the loop
    materializes are up to twice the pair count."""
    return max(1, min(parallelism, -(-2 * n_pairs // 2_000_000)))


def pagerank(pairs: DataFrame, weight: str | None = None) -> DataFrame:
    """``ITERATIONS`` PageRank steps (damping ``DAMPING``) over the
    undirected graph of ``pairs`` (``id_a``, ``id_b``) →
    ``(id, degree, rank)`` with ``rank`` rounded to 6 dp at the END
    only (intermediate ranks stay full-precision double in BOTH
    engines; per-iteration rounding would compound).

    ``pairs`` rows are distinct undirected edges (the near-dup pair
    contract: ``id_a < id_b``); self-loops are dropped — a
    self-referential pair would let a node feed rank to itself and is
    never meaningful for dedup graphs.  NULL endpoints are dropped
    (NULL ids are not rankable).

    ``weight`` names an edge-weight column (e.g. the verified
    ``jaccard`` the near-dup pairs already carry): a node then spreads
    its rank proportionally to edge weight instead of uniformly —
    centrality follows HOW similar the duplicates are, not just how
    many there are.  Weights must be positive (≤ 0 or NULL edges are
    rejected loudly — they would silently black-hole rank); both
    directions of an undirected edge carry the same weight, and
    ``degree`` in the output stays the COUNT of neighbors (the
    weighted normalizer is internal).  ``weight=None`` is exactly the
    unweighted update (divide by degree), bit-for-bit unchanged.
    """
    a, b = F.col("id_a"), F.col("id_b")
    # Materialize the (possibly expensive) pair relation ONCE before
    # the symmetrizing union: both union branches reference it, so an
    # un-materialized relation executes the caller's full pair plan —
    # e.g. the banded-LSH join + verify — once per branch (r15 opt,
    # guide §1.2: don't re-execute a subtree; the weighted path's
    # eager validation probe is a third reference).  Eager
    # localCheckpoint rather than lazy stage(): the two branch scans
    # race a lazily-filling cache inside one job, and the checkpoint
    # additionally truncates the caller's plan so every loop round
    # plans against a flat scan.  Projected to the columns the
    # algorithm reads so no wide caller payload is materialized.
    # KNOWN TRADE (r15 ADVICE, same as llm/vectors.py's note):
    # localCheckpoint blocks cannot be released through the staging
    # registry — repeated pagerank calls in one long-lived session
    # hold checkpoint RDDs until GC — and the truncated lineage means
    # an executor loss mid-query fails the query (retry, not
    # recompute).  Acceptable inside one query, which is the only way
    # the entries call this; a long-lived multi-executor service
    # should checkpoint to reliable storage instead.
    base = (
        pairs.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select("id_a", "id_b", *([] if weight is None else [weight]))
        .localCheckpoint(eager=True)
    )
    # Size-derived partition count for the loop relations (r16, the
    # r15 verdict's #7 — guide §2.2: partitions sized to the data, not
    # to the session default): the per-round relations are |V|/|E|
    # rows, and materializing them at the session's shuffle width (=
    # core count locally) makes every round a fan of near-empty tasks
    # whose scheduling dominates — measured 6.0 s at 32 cores vs 3.4 s
    # at 8 for the SAME 256-edge graph
    # (scripts/measure_round_overhead.py at c84e9fc).  ``coalesce``
    # (never repartition: no extra shuffle) caps the materialized
    # width at ~2M edges per partition, floor 1, ceiling the cluster
    # parallelism — at 100 TB the count grows with the graph and this
    # is a no-op.  The count
    # itself is a bounded job over the already-materialized checkpoint.
    p_loop = _loop_width(
        base.count(), pairs.sparkSession.sparkContext.defaultParallelism
    )
    if weight is None:
        fwd = base.select(a.alias("__src"), b.alias("__dst"))
        edges = stage(
            fwd.unionByName(
                fwd.select(
                    F.col("__dst").alias("__src"),
                    F.col("__src").alias("__dst"),
                )
            )
            .distinct()
            .coalesce(p_loop)
        )
    else:
        w = F.col(weight)
        # The probe must run up front (the contract is a loud
        # ValueError at call time, pinned in tests); it reads the
        # checkpointed rows, not the caller's plan.
        bad = base.where(w.isNull() | (w <= 0)).limit(1).count()
        if bad:
            raise ValueError(
                f"weight column {weight!r} must be positive and non-NULL "
                "on every edge (a <= 0 weight would black-hole rank)"
            )
        fwd = base.select(a.alias("__src"), b.alias("__dst"), w.alias("__w"))
        # duplicate spellings of an edge merge DETERMINISTICALLY (max
        # weight) — a dropDuplicates pick would be partition-dependent
        edges = stage(
            fwd.unionByName(
                fwd.select(
                    F.col("__dst").alias("__src"),
                    F.col("__src").alias("__dst"),
                    F.col("__w"),
                )
            )
            .groupBy("__src", "__dst")
            .agg(F.max("__w").alias("__w"))
            .coalesce(p_loop)
        )
    # degree folds ONTO the edge relation once (out-degree of __src),
    # and the 1-row node count folds onto the |V|-row deg relation —
    # the iteration loop then runs exactly one join + one partial agg
    # + one left join per step, with no per-iteration deg or count
    # joins (measured: the extra joins doubled local wall time)
    deg_aggs = [F.count(F.lit(1)).alias("degree")]
    if weight is not None:
        deg_aggs.append(F.sum("__w").alias("__wsum"))
    deg0 = edges.groupBy("__src").agg(*deg_aggs)
    # NOTE: the edge relation carries the raw DEGREE (or the raw edge
    # weight + weight sum) and the update divides — precomputing
    # 1/degree and multiplying is NOT IEEE-identical to division and
    # would drift from the twin
    norm_cols = ["degree"] if weight is None else ["__w", "__wsum"]
    edges_w = stage(
        edges.join(deg0, "__src")
        .select("__src", "__dst", *norm_cols)
        .coalesce(p_loop)
    )
    deg = stage(
        deg0.select(F.col("__src").alias("id"), "degree").coalesce(p_loop)
    )
    # |V| is ONE scalar: collect it (a bounded 1-row job over the
    # staged degree relation — the sanctioned bounded-collect class)
    # and inline it as a literal instead of cross-joining a broadcast
    # 1-row count onto deg (r15 opt, guide §2.4): the broadcast
    # exchange + BroadcastNestedLoopJoin disappear from the staged deg
    # relation every round references, and materializing the count
    # here fills the edge cache BEFORE the loop instead of racing the
    # broadcast-build job for it.  ``lit(x)/lit(n)`` is the same
    # double-by-long IEEE division the ``__n`` column produced —
    # bitwise-identical ranks (pinned against the unrolled twin in
    # tests/test_graph.py).
    n_nodes = deg.count()
    if n_nodes == 0:
        # Empty graph: no rankable nodes.  Short-circuit BEFORE the
        # loop — the inlined uniform start would constant-fold
        # ``lit(1.0)/lit(0)`` into an ANSI divide-by-zero at analysis
        # time even though the frame it projects over is empty
        # (pinned in tests/test_empty_inputs.py).
        return deg.select(
            "id", "degree", F.lit(0.0).alias("rank")
        ).orderBy(F.desc("rank"), F.asc("id"))
    share = (
        F.col("__r") / F.col("degree")
        if weight is None
        else F.col("__r") * F.col("__w") / F.col("__wsum")
    )
    rank = deg.select("id", (F.lit(1.0) / F.lit(n_nodes)).alias("__r"))
    for _ in range(ITERATIONS):
        contrib = (
            edges_w.join(rank, edges_w["__src"] == rank["id"])
            .groupBy("__dst")
            .agg(F.sum(share).alias("__contrib"))
        )
        rank = deg.join(
            contrib, deg["id"] == contrib["__dst"], "left"
        ).select(
            "id",
            (
                F.lit(1.0 - DAMPING) / F.lit(n_nodes)
                + F.lit(DAMPING) * F.coalesce(F.col("__contrib"), F.lit(0.0))
            ).alias("__r"),
        )
        # Eager localCheckpoint, NOT persist (the k_core / BPE
        # lesson): persist caches execution but not
        # the logical plan, so a K-round chain still re-analyzes a
        # K-deep nested plan and executes as ONE monolithic
        # ~3K-exchange AQE query; checkpointing the |V|-row rank
        # relation each round makes every round a small flat job
        # (measured: the 5-round loop dropped from ~12 s to ~3 s at
        # sf0.1 while k_core's checkpointed 6-round peel was already
        # ~6× faster per round on the same graph).  Same per-round
        # arithmetic, bitwise-identical ranks.  The coalesce
        # right-sizes the CHECKPOINTED width the same way as the
        # staged loop relations above (the |V|-row rank frame was
        # materializing at the session shuffle width).
        rank = rank.coalesce(p_loop).localCheckpoint(eager=True)
    return (
        deg.join(rank, "id")
        .select("id", "degree", F.round("__r", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected pair relation → ``(id, degree, triangles, clustering)``
    — the density diagnostic for near-dup graphs: clustering ≈ 1 means
    clique-shaped duplicate blobs (representative dedup safe — every
    member duplicates every other), clustering ≈ 0 on nonzero degree
    means CHAINS (A~B~C with A≁C), where keep-one-per-component
    silently merges non-duplicates and span/line dedup is the right
    tool instead.

    Plan (compact-forward / degree-ordered orientation — Latapy 2008):
    canonicalize, then ORIENT every edge from its lower-(degree, id)
    endpoint to the higher one and enumerate wedges (a→b)⋈(b→c) on the
    middle vertex, closing with the oriented edge (a→c).  Orientation
    does not change the triangle set — each triangle is found exactly
    once at its middle vertex in (degree, id) order — but it bounds
    the wedge volume: a HUB of degree d has in-wedge volume 0 (every
    hub edge points INTO it, since the hub out-ranks its neighbors by
    degree), where a naive id-ordered orientation pays up to d²/4
    wedges when the hub's id falls mid-range (measured:
    scripts/measure_triangle_skew.py at c84e9fc).  Σ out-deg² under degree
    orientation is O(E^1.5) on any graph — the classic bound.
    Triangles credit all three corners via one explode + partial-agg
    pass; degrees fold on as in :func:`pagerank`.  Clustering =
    2·triangles / (deg·(deg−1)), 0.0 for degree-1 nodes, rounded 6 dp.
    Self-loops and NULL endpoints are dropped under the same contract
    as ``pagerank``; duplicate/swapped input edges canonicalize to one
    edge.
    """
    a, b = F.col("id_a"), F.col("id_b")
    canon = (
        pairs.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(
            F.least(a, b).alias("__a"), F.greatest(a, b).alias("__b")
        )
        .distinct()
    )
    edges = stage(canon)
    deg = stage(
        edges.select(F.col("__a").alias("id"))
        .unionAll(edges.select(F.col("__b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # degree-ordered orientation: lower (degree, id) → higher
    with_deg = (
        edges.join(
            deg.withColumnsRenamed({"id": "__a", "degree": "__da"}), "__a"
        ).join(
            deg.withColumnsRenamed({"id": "__b", "degree": "__db"}), "__b"
        )
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b"))
    )
    oriented = stage(
        with_deg.select(
            F.when(a_first, F.col("__a")).otherwise(F.col("__b")).alias("src"),
            F.when(a_first, F.col("__b")).otherwise(F.col("__a")).alias("dst"),
        )
    )
    wedges = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        on="b",
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        on=["a", "c"],
        how="left_semi",
    )
    per_node = (
        closed.select(
            F.explode(F.array("a", "b", "c")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, on="id", how="left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.coalesce(F.col("triangles"), F.lit(0))
                    * 2.0
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
        .orderBy("id")
    )


def triangle_counts_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts` — identical
    canonicalize → wedge → close → credit-3-corners pipeline."""
    return f"""
WITH pairs AS ({pairs_sql}),
canon AS (
  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
  FROM pairs
  WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
),
tri AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM canon e1
  JOIN canon e2 ON e2.a = e1.b
  WHERE EXISTS (SELECT 1 FROM canon e3 WHERE e3.a = e1.a AND e3.b = e2.b)
),
per_node AS (
  SELECT id, count(*) AS triangles
  FROM (SELECT unnest([a, b, c]) AS id FROM tri)
  GROUP BY id
),
deg AS (
  SELECT id, count(*) AS degree
  FROM (SELECT a AS id FROM canon UNION ALL SELECT b FROM canon)
  GROUP BY id
)
SELECT deg.id AS doc_id, deg.degree,
       coalesce(per_node.triangles, 0) AS triangles,
       CASE WHEN deg.degree >= 2
            THEN round(coalesce(per_node.triangles, 0) * 2.0
                       / (deg.degree * (deg.degree - 1)), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN per_node USING (id)
ORDER BY doc_id
"""


def pagerank_sql(
    pairs_sql: str,
    weight: str | None = None,
) -> str:
    """DuckDB twin of :func:`pagerank`: the SAME K update steps
    unrolled as chained CTEs over the pair relation ``pairs_sql``
    (fixed iterations are what make the twin expressible — a
    convergence loop would need recursion with aggregation, which
    recursive CTEs disallow).  ``weight`` mirrors the operator's
    weighted update (share = r·w/Σw, max-merge of duplicate edge
    spellings)."""
    teleport = f"({1.0 - DAMPING:.17g} / (SELECT n FROM n))"
    share = (
        "r{k}.r / deg.degree"
        if weight is None
        else "r{k}.r * e.w / deg.wsum"
    )
    steps = []
    for k in range(ITERATIONS):
        steps.append(
            f"r{k + 1} AS (\n"
            f"  SELECT deg.id, {teleport} + {DAMPING:.17g} * "
            f"coalesce(s.contrib, 0.0) AS r\n"
            f"  FROM deg LEFT JOIN (\n"
            f"    SELECT e.dst AS id, sum({share.format(k=k)}) AS contrib\n"
            f"    FROM edges e JOIN r{k} ON r{k}.id = e.src\n"
            f"    JOIN deg ON deg.id = e.src\n"
            f"    GROUP BY e.dst) s USING (id)\n"
            f")"
        )
    chain = ",\n".join(steps)
    if weight is None:
        fwd = (
            "SELECT id_a AS src, id_b AS dst FROM pairs\n"
            "  WHERE id_a IS NOT NULL AND id_b IS NOT NULL "
            "AND id_a <> id_b"
        )
        edges = (
            "SELECT DISTINCT src, dst FROM (\n"
            "    SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd\n"
            "  )"
        )
        deg = "SELECT src AS id, count(*) AS degree FROM edges GROUP BY src"
    else:
        fwd = (
            f"SELECT id_a AS src, id_b AS dst, {weight} AS w FROM pairs\n"
            f"  WHERE id_a IS NOT NULL AND id_b IS NOT NULL "
            f"AND id_a <> id_b"
        )
        edges = (
            "SELECT src, dst, max(w) AS w FROM (\n"
            "    SELECT src, dst, w FROM fwd "
            "UNION ALL SELECT dst, src, w FROM fwd\n"
            "  ) GROUP BY src, dst"
        )
        deg = (
            "SELECT src AS id, count(*) AS degree, sum(w) AS wsum "
            "FROM edges GROUP BY src"
        )
    return f"""
WITH pairs AS ({pairs_sql}),
fwd AS (
  {fwd}
),
edges AS (
  {edges}
),
deg AS ({deg}),
n AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT id, 1.0 / (SELECT n FROM n) AS r FROM deg),
{chain}
SELECT deg.id AS doc_id, deg.degree, round(r{ITERATIONS}.r, 6) AS rank
FROM deg JOIN r{ITERATIONS} ON deg.id = r{ITERATIONS}.id
ORDER BY rank DESC, doc_id ASC
"""


def k_core(pairs: DataFrame) -> DataFrame:
    """Fixed-iteration k-core peel over the undirected pair relation
    (``id_a``, ``id_b``) → ``(id, degree)`` of the nodes surviving
    ``PEEL_ROUNDS`` rounds of "delete every node with degree <
    ``CORE_K``", with their residual degree —
    the density filter that separates clique-shaped duplicate blobs
    from incidental chains before expensive per-cluster work (a chain
    A~B~C has no 2-core; a triangle is one).

    FIXED iterations, like :func:`pagerank` and the LPA communities:
    that is what makes the DuckDB twin expressible as an unrolled CTE
    chain (recursive CTEs disallow the per-round aggregation), and
    peeling converges geometrically on real graphs — on chains, the
    worst case, each round removes both endpoints, so ``PEEL_ROUNDS``
    rounds fully resolve any component of diameter ≤ 2·PEEL_ROUNDS.
    Nodes NOT yet converged after the last round simply report their
    current residual degree (may be < k); both engines stop at the
    same round, so the twin hashes identically regardless.

    Plan per round: one degree partial agg + two LEFT SEMI joins of
    the edge relation against the surviving-node set, both keyed on
    the node id — no window, no collect; the edge relation shrinks
    monotonically.  Each round ends in ``localCheckpoint`` — NOT
    ``persist``: the next round references the edge relation ~5 times
    (two degree legs feeding the keep-set that both semi joins
    consume), so an uncut lineage grows 5^PEEL_ROUNDS and stalls the
    ANALYZER before any data moves (the MMR plan-blow-up lesson;
    persist caches execution but not the logical plan).  Dirty edges
    (NULL endpoints, self-loops, duplicate/swapped spellings)
    canonicalize under the :func:`pagerank` contract."""
    a, b = F.col("id_a"), F.col("id_b")
    edges = (
        pairs.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("__a"), F.greatest(a, b).alias("__b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(PEEL_ROUNDS):
        deg = (
            edges.select(F.col("__a").alias("id"))
            .unionAll(edges.select(F.col("__b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.where(F.col("degree") >= CORE_K).select("id")
        edges = (
            edges.join(
                keep.withColumnRenamed("id", "__a"), on="__a", how="left_semi"
            )
            .join(
                keep.withColumnRenamed("id", "__b"), on="__b", how="left_semi"
            )
            .localCheckpoint(eager=True)
        )
    return (
        edges.select(F.col("__a").alias("id"))
        .unionAll(edges.select(F.col("__b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy("id")
    )


def k_core_sql() -> str:
    """DuckDB twin of :func:`k_core` (``CORE_K``, ``PEEL_ROUNDS``) over
    the banded near-dup pairs — the same peel rounds unrolled
    as chained MATERIALIZED CTEs (each round's edge relation is
    referenced three times — two degree legs + the next filter — and
    an inlined chain re-evaluates exponentially, the MMR lesson)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import near_dup_banded_sql

    steps = []
    for t in range(PEEL_ROUNDS):
        steps.append(
            f"d{t} AS MATERIALIZED (\n"
            f"  SELECT id, count(*) AS degree FROM (\n"
            f"    SELECT __a AS id FROM e{t}\n"
            f"    UNION ALL SELECT __b AS id FROM e{t}\n"
            f"  ) GROUP BY id\n"
            f"), kset{t} AS MATERIALIZED (\n"
            f"  SELECT id FROM d{t} WHERE degree >= {CORE_K}\n"
            f"), e{t + 1} AS MATERIALIZED (\n"
            f"  SELECT e{t}.* FROM e{t}\n"
            f"  JOIN kset{t} ka ON e{t}.__a = ka.id\n"
            f"  JOIN kset{t} kb ON e{t}.__b = kb.id\n"
            f")"
        )
    chain = ",\n".join(steps)
    return f"""
WITH canon AS MATERIALIZED (
  SELECT DISTINCT least(id_a, id_b) AS __a,
                  greatest(id_a, id_b) AS __b
  FROM ({near_dup_banded_sql()})
  WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
), e0 AS MATERIALIZED (SELECT * FROM canon),
{chain}
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT __a AS id FROM e{PEEL_ROUNDS}
  UNION ALL SELECT __b AS id FROM e{PEEL_ROUNDS}
) GROUP BY id ORDER BY id
"""
