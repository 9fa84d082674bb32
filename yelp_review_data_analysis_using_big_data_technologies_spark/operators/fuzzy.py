"""Fuzzy (edit-distance) matching via the blocked sorted-neighborhood
method (Hernández & Stolfo, SIGMOD'95) — the entity-resolution
strategy that scales where a naive edit-distance join is N².

Candidates are pairs within 3 positions of each other in the
sort order of the match key WITHIN a blocking key: the window
partitions by block and sorts by key, so ``lead(key, i)`` for i in
1..3 pairs each row with its next 3 neighbors —
candidate count is exactly ``3·N``, linear in N, and the shuffle
key is the block (ordinary hash partitioning, no global sort).
Verification is exact ``levenshtein ≤ k``, which Spark and DuckDB
implement with the same unrestricted-edit-distance DP, so the oracle
twin agrees exactly.

Two recall trades define the method, both deliberate:
- pairs in DIFFERENT blocks are never candidates (choose a block the
  expected duplicates agree on — a prefix, soundex, zip code);
- within a block, only pairs ≤ 3 apart in sort order are
  candidates (prefix typos move a record far away in the order).
The standard upgrade for both is multi-pass: re-run with different
block/sort keys and union the results — it composes from this same
operator.  ``block_col=None`` degrades to one global window (fine for
small dims; at scale always block).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fuzzy_pairs_sorted_neighborhood(
    df: DataFrame, block_col: Column | str | None = None
) -> DataFrame:
    """Pairs ``(id_a, id_b, distance)`` of ``c_custkey`` ids with
    edit distance ≤ 1 among rows within 3 positions in ``c_name``'s
    sort order inside each block (ties broken by id — deterministic
    for unique (key, id))."""
    id_col, key_col = "c_custkey", "c_name"
    # NULLS FIRST explicitly on both sort keys: Spark's ASC default,
    # but the SQL twin must pin the same (DuckDB defaults NULLS LAST),
    # else a NULL id tie-breaking among duplicate keys lands on the
    # opposite side of the neighborhood per engine.
    order = [F.asc_nulls_first(key_col), F.asc_nulls_first(id_col)]
    if block_col is not None:
        blk = F.col(block_col) if isinstance(block_col, str) else block_col
        # project the block expression IN the same select that narrows
        # the frame — narrowing first would drop any OTHER column the
        # block expression references (e.g. block_col="zip", the
        # docstring's own suggested use)
        base = df.select(F.col(id_col), F.col(key_col), blk.alias("__blk"))
        w = Window.partitionBy("__blk").orderBy(*order)
    else:
        base = df.select(F.col(id_col), F.col(key_col))
        w = Window.orderBy(*order)
    cols = [
        F.struct(
            F.lead(id_col, i).over(w).alias("nid"),
            F.lead(key_col, i).over(w).alias("nkey"),
        )
        for i in range(1, 4)
    ]
    paired = (
        base.withColumn("__nbrs", F.array(*cols))
        .select(id_col, key_col, F.explode("__nbrs").alias("__n"))
        .filter(F.col("__n.nid").isNotNull())
    )
    return (
        paired.withColumn(
            "distance", F.levenshtein(F.col(key_col), F.col("__n.nkey"))
        )
        .filter(F.col("distance") <= 1)
        .select(
            F.col(id_col).alias("id_a"),
            F.col("__n.nid").alias("id_b"),
            "distance",
        )
    )


def fuzzy_pairs_sql() -> str:
    """DuckDB twin over ``customer`` blocked on the 14-char
    ``c_name`` prefix, at the 3-row window: the same blocked lead()
    neighborhood and levenshtein verify (same input contract and the
    same pinned NULLS FIRST sort as the Spark side)."""
    # distinct window names per branch: DuckDB rejects re-defining the
    # same WINDOW alias across UNION ALL branches of one query
    leads = " UNION ALL ".join(
        f"SELECT c_custkey AS id_a, c_name AS k_a, "
        f"lead(c_custkey, {i}) OVER w{i} AS id_b, "
        f"lead(c_name, {i}) OVER w{i} AS k_b "
        f"FROM customer WINDOW w{i} AS (PARTITION BY substr(c_name, 1, 14) "
        f"ORDER BY c_name NULLS FIRST, c_custkey NULLS FIRST)"
        for i in range(1, 4)
    )
    return (
        f"SELECT id_a, id_b, levenshtein(k_a, k_b) AS distance "
        f"FROM ({leads}) WHERE id_b IS NOT NULL "
        "AND levenshtein(k_a, k_b) <= 1"
    )
