"""Duplicate clustering: connected components over near-dup pairs
(SURVEY.md §2.12 "deduplication", the transitive-closure step).

Pairwise near-dup detection (MinHash LSH, SimHash, n-gram Jaccard —
see :mod:`.dedup`) emits EDGES; a real corpus dedup needs the
transitive closure: if A~B and B~C, then {A, B, C} is one duplicate
group and exactly one survivor should be kept, even though (A, C)
never scored above threshold.  This module closes pairs into
components with iterative min-label propagation:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated to fixpoint.  Each iteration is one shuffle join + one
partial aggregate over the (tiny, relative to the corpus) edge set;
the iteration count is the graph diameter, and near-dup components
are dense quasi-cliques, so 2-4 iterations converge in practice.
Lineage is truncated every round with ``localCheckpoint`` — without
it the logical plan doubles per iteration and Catalyst re-analyzes
the whole history each round (the classic iterative-Spark trap).

Scale: the edge set produced by banded LSH is orders of magnitude
smaller than the corpus (bounded by band-bucket collision counts),
so the per-iteration shuffle is cheap.  For adversarial graphs with
long chains (diameter ≫ log n) the standard upgrade is alternating
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) which converges in O(log² n) rounds;
min-propagation is the right default for near-dup workloads where
components are small and dense.

The DuckDB oracle (:func:`connected_components_sql`) computes the
same closure with a recursive CTE — reachability, then
``min(reachable id)`` as the component label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame) -> DataFrame:
    """Component label per node: ``(id, cluster_id)`` where
    ``cluster_id`` is the minimum node id reachable through ``pairs``.
    Only nodes that appear in at least one pair are emitted
    (singletons are their own trivial cluster and need no row).

    Pairs with a NULL endpoint are rejected: NULL joins nothing, so
    the two Spark formulations would quietly emit a (NULL, NULL) label
    while a SQL GROUP BY would hand the NULL node its neighbor's label
    — no answer is right, so the input contract is non-NULL ids.

    20 rounds bound the propagation; convergence is read from an
    ``observe`` metric folded into each round's one checkpoint job
    (sum of changed rows — no separate probe job), so well-formed
    inputs stop at diameter + 1 rounds regardless.  If the
    budget exhausts with rows still changing (diameter > 20
    — a long-chain graph, not the dense near-dup shape this targets)
    the labels are only PARTIALLY propagated, so that state raises
    ``RuntimeError`` instead of returning silently-wrong clusters;
    switch to the large-star/small-star formulation
    (:func:`connected_components_alternating`) for such graphs.
    """
    # NULL endpoints: see docstring — no label assignment is right
    pairs = pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
        # Materialize once: every iteration re-reads the edge set, and
        # the upstream pair plan (LSH banding + verification) must not
        # re-execute per round.
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("src"), F.col("lbl").alias("src_lbl")
                ),
                on="src",
            )
            .groupBy("dst")
            .agg(F.min("src_lbl").alias("nbr_lbl"))
        )
        # The changed flag is computed INLINE during the update (a
        # neighbor min strictly below the current label) and counted
        # by an ``observe`` metric DURING the eager-checkpoint
        # materialization — the round runs exactly ONE job (the
        # previous shape paid a second probe job per round; iterative
        # loops live and die on per-round job count).
        obs = Observation()
        updated = (
            labels.join(
                nbr_min.select(F.col("dst").alias("id"), "nbr_lbl"),
                on="id",
                how="left",
            )
            .select(
                "id",
                F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                (
                    F.col("nbr_lbl").isNotNull()
                    & (F.col("nbr_lbl") < F.col("lbl"))
                ).alias("__chg"),
            )
            .observe(obs, F.sum(F.col("__chg").cast("long")).alias("n_chg"))
            .localCheckpoint(eager=True)
        )
        changed = obs.get["n_chg"] or 0
        labels = updated.drop("__chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "connected_components did not converge in 20 "
            "iterations; labels are partially propagated (graph "
            "diameter exceeds the budget)"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive (count, xor-of-row-hashes) signature of an
    edge set — two jobs' worth cheaper than a full except/intersect
    equality check per round, and xor can't overflow (the reason it is
    used instead of sum under ANSI mode)."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("x"),
    ).collect()[0]
    return (row.n, row.x if row.x is not None else 0)


def connected_components_alternating(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — same output contract as
    :func:`connected_components` (``(doc_id, cluster_id)``, component
    label = min reachable id, only paired nodes emitted).

    Where min-label propagation needs DIAMETER rounds (a 10⁶-node
    chain would need 10⁶ shuffles), star contraction converges in
    O(log² n): large-star hooks every strictly-larger neighbor of a
    node onto its neighborhood minimum, small-star re-points the
    smaller neighbors, and the alternation provably contracts each
    component to a star whose center is the component min.  Use this
    for adversarial/long-chain graphs; min-propagation remains the
    cheaper default for the dense quasi-clique components near-dup
    workloads produce.

    Each round is two groupBy-join passes over the current edge set
    with ``localCheckpoint`` lineage truncation; convergence is an
    order-insensitive edge-set checksum (count + hash-xor), and
    exhausting 30 rounds without a fixpoint raises rather than
    returning a partially-contracted graph.
    """
    # NULL endpoints rejected — same contract as connected_components
    # (greatest/least SKIP nulls, so (A, NULL) would otherwise turn
    # into a self-pair here while min-label drops it: the two
    # formulations must agree)
    pairs = pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
    edges = (
        pairs.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("u"),
            F.least(F.col("id_a"), F.col("id_b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    sig = _checksum(edges)
    for _ in range(30):
        # large-star: center u sees its FULL neighborhood; every
        # strictly-larger neighbor re-points to m = min(N(u) ∪ {u}).
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            # emitted edge (v, m): v > u ≥ m, so it stays big→small
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .dropDuplicates()
        )
        # small-star: edges already point big→small, so N(u) here is
        # the smaller neighbors; all of them plus u re-point to the
        # neighborhood min (which is < u by construction).
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        with_min = large.join(mins2, on="u")
        # The convergence checksum is observed DURING the checkpoint
        # materialization — one job per round, not checkpoint + probe.
        obs = Observation()
        small = (
            with_min.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(with_min.select("u", F.col("m").alias("v")))
            .dropDuplicates()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("x"),
            )
            .localCheckpoint(eager=True)
        )
        m = obs.get
        new_sig = (m["n"], m["x"] if m["x"] is not None else 0)
        edges, prev = small, sig
        sig = new_sig
        if new_sig == prev:
            break
    else:
        raise RuntimeError(
            "connected_components_alternating did not converge in "
            "30 rounds (expected O(log^2 n)); edge set still "
            "changing"
        )
    # Fixpoint edge set is a disjoint union of stars rooted at the
    # component minima: children label from their root, roots from
    # themselves.  Self-pair-only nodes (an input row (A, A) with no
    # other edge) were dropped by the u != v edge build; re-emit them
    # as their own singleton cluster so the output contract matches
    # :func:`connected_components` and the recursive-CTE oracle, which
    # both keep such nodes.
    labeled = (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionAll(
            edges.select(
                F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")
            ).dropDuplicates()
        )
        .dropDuplicates()
    )
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    singletons = nodes.join(labeled, on="doc_id", how="left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return labeled.unionAll(singletons)


def connected_components_sql(pairs_sql: str) -> str:
    """DuckDB twin: recursive reachability over the same pair set,
    component label = min reachable id.  ``pairs_sql`` must yield
    columns ``id_a``/``id_b``."""
    return f"""
WITH RECURSIVE __pairs AS (
  SELECT * FROM ({pairs_sql}) WHERE id_a IS NOT NULL AND id_b IS NOT NULL
),
__edges AS (
  SELECT id_a AS src, id_b AS dst FROM __pairs
  UNION SELECT id_b, id_a FROM __pairs
),
__reach(src, dst) AS (
  SELECT src, dst FROM __edges
  UNION
  SELECT r.src, e.dst FROM __reach r JOIN __edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM __reach GROUP BY src ORDER BY doc_id
"""


def label_propagation(pairs: DataFrame) -> DataFrame:
    """Fixed-iteration synchronous LABEL PROPAGATION communities →
    ``(doc_id, community_id)`` — the density-aware complement to
    connected components: CC answers "what is transitively
    reachable?" (one bridge edge merges two blobs), LPA's neighbor
    majority answers "which blob does each node actually belong to?"
    (a single bridge cannot out-vote a dense neighborhood).  For
    near-dup corpora this is the community view of borderline pairs
    that chain otherwise-distinct template families together.

    Update rule, run for a FIXED 4 iterations from ``label(v) = v``:
    ``label'(v) = argmax_l count(l among v's neighbors)``, ties to
    the SMALLEST label — fully deterministic (integer counts, total
    tie order), so the DuckDB twin unrolls the same 4 steps
    (:func:`label_propagation_sql`) and the driver can hash both.
    Fixed iterations rather than convergence: synchronous LPA can
    two-cycle on bipartite-ish structure, so "converged" is not
    well-defined; 4 steps of a deterministic map are.

    Plan shape: per iteration one shuffle join of the |V|-row label
    relation onto the symmetrized edge relation, one (dst, label)
    partial aggregate, and one per-dst window argmax — the same
    Pregel-as-joins family as :func:`connected_components` and
    ``operators/graph.py::pagerank``; each round ends in an eager
    ``localCheckpoint`` so every round runs as a small flat job
    (lineage cut AND plan cut — the pagerank/k_core shape, r15).  Self-loops and NULL endpoints are
    dropped (the pagerank contract); only nodes appearing in at least
    one pair are emitted (the CC contract).
    """
    from pyspark.sql import Window

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage

    a, b = F.col("id_a"), F.col("id_b")
    fwd = pairs.where(a.isNotNull() & b.isNotNull() & (a != b)).select(
        a.alias("__src"), b.alias("__dst")
    )
    edges = stage(
        fwd.unionByName(
            fwd.select(
                F.col("__dst").alias("__src"), F.col("__src").alias("__dst")
            )
        ).distinct()
    )
    labels = edges.select(F.col("__src").alias("id")).distinct().select(
        "id", F.col("id").alias("__l")
    )
    w = Window.partitionBy("__dst").orderBy(
        F.desc("__c"), F.asc("__l")
    )
    for _ in range(4):
        votes = (
            edges.join(labels, edges["__src"] == labels["id"])
            .groupBy("__dst", "__l")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # eager localCheckpoint per round, not persist (r15 opt — the
        # pagerank/k_core lesson): persist caches execution but not
        # the plan, so the K-round chain still executed as one
        # monolithic nested AQE query; checkpointing the |V|-row label
        # relation makes each round a small flat job with identical
        # per-round arithmetic.
        labels = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("__dst").alias("id"), "__l")
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("__l").alias("community_id")
    ).orderBy("doc_id")


def label_propagation_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`label_propagation` — the same 4
    neighbor-majority steps unrolled as chained CTEs (same
    construction as the unrolled PageRank twin)."""
    steps = []
    for k in range(4):
        steps.append(
            f"l{k + 1} AS (\n"
            f"  SELECT dst AS id, l FROM (\n"
            f"    SELECT e.dst, l{k}.l, count(*) AS c\n"
            f"    FROM edges e JOIN l{k} ON l{k}.id = e.src\n"
            f"    GROUP BY e.dst, l{k}.l)\n"
            f"  QUALIFY row_number() OVER (PARTITION BY dst\n"
            f"            ORDER BY c DESC, l ASC) = 1\n"
            f")"
        )
    chain = ",\n".join(steps)
    return f"""
WITH pairs AS ({pairs_sql}),
fwd AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
  )
),
l0 AS (SELECT DISTINCT src AS id, src AS l FROM edges),
{chain}
SELECT id AS doc_id, l AS community_id FROM l4
ORDER BY doc_id
"""
