"""Shared-twin guard (imports the entry module, starts no Spark): two
registered entries whose DuckDB twins are the same SQL text return the
same rows, so one of them is a second plan for one result.  Such a
pair stays only as a listed decision: each group of entries sharing a
twin must be in ``ALLOWED`` with the reason both plans are kept.  An
entry that only forces one arm of an operator's dispatch goes with
that arm, not into this list."""

from collections import defaultdict

import __spark_entry__ as entrymod

#: ``frozenset(names)`` → why entries sharing one twin all stay.
ALLOWED = {
    frozenset({"flagship_category_distribution", "sql_flagship_distribution"}): (
        "the flagship query through the DataFrame API and through "
        "spark.sql: two front ends a user writes, one result"
    ),
    frozenset({"salted_join_segments", "bucketed_join_roundtrip"}): (
        "two physical join layouts (salted keys for skew, bucketed "
        "tables for co-location) proved transparent against the plain "
        "join; neither is a dispatch arm of the other"
    ),
    frozenset({"doc_dup_clusters", "doc_dup_clusters_star"}): (
        "min-label connected components is faster on the near-dup "
        "graph, but only the alternating large-star/small-star arm "
        "finishes on chains longer than min-label's round budget"
    ),
    frozenset({"vec_cosine_near_dup", "vec_cosine_near_dup_pinned"}): (
        "the production entry derives its plane count from the corpus; "
        "the pinned entry fixes it so the static twin stays checkable "
        "at every scale factor"
    ),
    frozenset({"vec_top_k_bruteforce", "vec_ann_exhaustive_equiv"}): (
        "IVF-PQ at the exhaustive dials must collapse to exact top-k: "
        "the bruteforce twin is the recall contract of the ANN path"
    ),
    frozenset(
        {
            "vec_top_k_ann_ivf",
            "vec_ivf_index_search",
            "vec_ivf_index_compacted",
            "vec_index_forget",
            "stream_ann_index_ingest",
        }
    ): (
        "the IVF index lifecycle (in-memory, persisted, compacted, "
        "erased, streamed) must leave a search-identical index; each "
        "entry runs a different lifecycle step"
    ),
}


def _shared(oracles):
    """Sorted groups (sorted name lists) of two or more names whose
    SQL text in ``oracles`` (name → SQL) is identical."""
    by_sql = defaultdict(list)
    for name, sql in oracles.items():
        by_sql[sql].append(name)
    return sorted(sorted(names) for names in by_sql.values() if len(names) > 1)


def test_scan_groups_identical_twins():
    planted = {"a": "SELECT 1", "b": "SELECT 2", "c": "SELECT 1", "d": "SELECT 1 "}
    assert _shared(planted) == [["a", "c"]]


def test_every_shared_twin_is_a_listed_decision():
    unlisted = [g for g in _shared(entrymod.oracle_sql()) if frozenset(g) not in ALLOWED]
    assert unlisted == [], (
        "entries sharing one DuckDB twin (keep one plan, or list the "
        "group in ALLOWED with why both stay):\n  "
        + "\n  ".join(", ".join(g) for g in unlisted)
    )


def test_allowlist_holds_only_shared_twins():
    assert sorted(map(sorted, ALLOWED)) == [
        g for g in _shared(entrymod.oracle_sql()) if frozenset(g) in ALLOWED
    ]
