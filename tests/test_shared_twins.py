"""Shared-twin guard (imports the entry module, starts no Spark): two
registered entries whose DuckDB twins are the same SQL text return the
same rows, so one of them is a second plan for one result.  Such a
pair stays only as a listed decision: each group of entries sharing a
twin must be in ``ALLOWED`` with the reason both plans are kept.  An
entry that only forces one arm of an operator's dispatch goes with
that arm, not into this list.

The registered-leg guard (a plain AST scan of the entry module and the
two plan modules) covers the other way one result is checked twice: a
registered entry whose builder calls another registered entry's
builder hashes that entry's rows inside its own.  The called entry
stays registered only when it is timed alone — listed in
``bench.HEADLINE`` or in a ``perfbench`` workload; otherwise it is the
caller's private leg."""

import ast
import os
from collections import defaultdict

import __spark_entry__ as entrymod
import bench
from perfbench.workloads import WORKLOADS
from test_reachability import PKG, ROOT

ENTRY = "__spark_entry__.py"
PLANS = (ENTRY, f"{PKG}/plans/llm_queries.py", f"{PKG}/plans/analytics.py")

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


def _registered_legs(files, timed):
    """Sorted ``caller -> leg`` for each registered entry (``QUERIES``
    in ``files[ENTRY]``) whose builder calls the builder of another
    registered entry not in ``timed``.  A builder is a function of one
    of ``files`` (``path`` → source), named in the registry by its bare
    name (an entry-module function) or as ``module.name``; a bare-name
    call in a module reaches that module's own function."""
    defs = {}
    for path, src in files.items():
        module = os.path.basename(path)[:-3]
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef):
                defs[module, node.name] = node

    def ref(node, module):
        if isinstance(node, ast.Name):
            return module, node.id
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            return node.value.id, node.attr
        return None

    registry = next(
        n.value
        for n in ast.parse(files[ENTRY]).body
        if isinstance(n, (ast.Assign, ast.AnnAssign))
        and any(
            getattr(t, "id", None) == "QUERIES"
            for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
        )
    )
    entries = defaultdict(list)  # builder → the names registering it
    for key, value in zip(registry.keys, registry.values):
        builder = ref(value, ENTRY[:-3])
        if builder in defs:
            entries[builder].append(key.value)
    legs = set()
    for builder, callers in entries.items():
        for node in ast.walk(defs[builder]):
            if isinstance(node, ast.Call):
                for leg in entries.get(ref(node.func, builder[0]), []):
                    if leg not in timed:
                        legs.update(f"{caller} -> {leg}" for caller in callers)
    return sorted(legs)


def test_scan_flags_a_registered_leg():
    planted = {
        ENTRY: (
            "from pkg import analytics\n"
            "def _q_a(s, d):\n    return d\n"
            "def _q_b(s, d):\n    return d\n"
            "def _q_panel(s, d):\n"
            "    return _q_a(s, d).union(_q_b(s, d)).union(analytics.t(s, d))\n"
            "def _helper(s, d):\n    return d\n"
            "QUERIES = {'panel': _q_panel, 'a': _q_a, 'b': _q_b,\n"
            "           'tiles': analytics.tiles, 't': analytics.t,\n"
            "           'c': _helper}\n"
        ),
        "analytics.py": (
            "def t(s, d):\n    return d\n"
            "def tiles(s, d):\n    return t(s, d).union(_helper(s, d))\n"
            "def _helper(s, d):\n    return d\n"
        ),
    }
    assert _registered_legs(planted, timed={"b"}) == [
        "panel -> a",
        "panel -> t",
        "tiles -> t",
    ]


def test_no_registered_entry_is_only_a_leg():
    files = {p: open(os.path.join(ROOT, p), encoding="utf-8").read() for p in PLANS}
    timed = set(bench.HEADLINE).union(*(w.queries for w in WORKLOADS.values()))
    legs = _registered_legs(files, timed)
    assert legs == [], (
        "registered entries another entry's builder already runs and "
        "hashes (unregister the leg and keep its builder private, or "
        "time it alone):\n  " + "\n  ".join(legs)
    )
