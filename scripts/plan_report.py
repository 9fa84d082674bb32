"""Generate PLANS.md — a per-entry physical-plan audit.

For every batch entry in ``queries()`` this builds (never executes)
the physical plan and tabulates the properties the engine's scale
claims rest on: shuffle counts, broadcast usage, whole-stage-codegen
coverage, and every Python boundary.  The plan lint
(tests/test_plan_lint.py) enforces the hard rules; this report makes
the resulting plan shapes reviewable at a glance.  Streaming entries
execute rather than plan lazily, so they are listed but not planned.

Usage::

    python scripts/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.session import get_spark

import __spark_entry__ as entrymod

#: Entries that run a streaming query (or write a sink) when invoked —
#: invoking them just to read a plan would execute real work.
SKIP = {
    # runs the full multi-wave backfill on invocation; the returned
    # frame's plan is just the corpus read-back, not the ingest
    "stream_dedup_ingest",
    "stream_line_dedup_ingest",
    # r6: executes upsert/compact (maintenance) or the streaming
    # additive merge; returned frames are table read-backs
    "table_maintenance_roundtrip",
    "stream_incremental_matview",
    "stream_windows_panel",
    "stream_joins_panel",
    "stream_stream_join",
    "stream_static_enrich",
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stateful_running_profile",
    "ingest_roundtrip_panel",
    "json_ingest_roundtrip",
    "csv_ingest_roundtrip",
    "orc_ingest_roundtrip",
    # r10: run the availableNow drift scoring (one shared
    # _stream_monitor drain) on invocation; the returned frame is the
    # profile-table read-back
    "stream_psi_monitor",
    "stream_ks_monitor",
    "stream_chi2_monitor",
    # r10: runs 7 eager localCheckpoint rounds on invocation (the
    # anti-plan-blow-up lineage cuts); returned frame reads them
    "doc_graph_kcore",
}

PY_BOUNDARIES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "FlatMapCoGroupsInPandas",
)


def _tree_counts(root) -> dict:
    """Count plan operators by WALKING the tree, visiting each cached
    (InMemoryRelation) subtree exactly ONCE no matter how many scans
    reference it — the executed semantics (r14).  The old string-regex
    count re-counted a staged subtree per consumer, so a composition
    with k staged layers reported ~2^k× its real shuffle count
    (`corpus_training_freeze` printed 795 "shuffles" for a plan that
    executes ~25).  ReusedExchange is likewise skipped (its original
    is counted where it lives)."""
    counts = {"hash": 0, "range": 0, "bc": 0, "wsc": 0, "py": set()}
    seen_caches: set = set()

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        if name == "ReusedExchangeExec":
            return
        if name == "InMemoryTableScanExec":
            rel = node.relation()
            # Dedup by the CachedRDDBuilder (r15): the builder is the
            # identity of the materialized cache.  InMemoryRelation
            # instances wrapping the SAME cache differ in output
            # attributes across consumers (withOutput), so deduping on
            # rel.hashCode() under-collapsed — corpus_freeze_stats
            # planned 3,480 cache-scan nodes over just 7 builders and
            # reported 85 "shuffles" for a plan that executes ~30.
            try:
                key = rel.cacheBuilder().hashCode()
            except Exception:  # noqa: BLE001 — API drift fallback
                key = rel.hashCode()
            if key not in seen_caches:
                seen_caches.add(key)
                walk(rel.cachedPlan())
            return
        if name == "ShuffleExchangeExec":
            part = node.outputPartitioning().getClass().getSimpleName()
            if part == "RangePartitioning":
                counts["range"] += 1
            else:
                counts["hash"] += 1
        elif name == "BroadcastExchangeExec":
            counts["bc"] += 1
        elif name == "WholeStageCodegenExec":
            counts["wsc"] += 1
        elif name.removesuffix("Exec") in {
            p for p in PY_BOUNDARIES
        } or name in {f"{p}Exec" for p in PY_BOUNDARIES}:
            counts["py"].add(name.removesuffix("Exec"))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(root)
    return counts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_report")
    rows = []
    for name, fn in entrymod.queries().items():
        if name in SKIP:
            rows.append((name, "(streaming/sink — executed, not planned)"))
            continue
        try:
            df = fn(spark, sf_dir)
            root = df._jdf.queryExecution().executedPlan()
            plan = root.toString()
        except Exception as exc:  # noqa: BLE001
            rows.append((name, f"(plan unavailable: {type(exc).__name__})"))
            continue
        finally:
            release_staging()
        try:
            c = _tree_counts(root)
            n_ex, n_rng, n_bc = c["hash"], c["range"], c["bc"]
        except Exception:  # noqa: BLE001 — fall back to string counts
            n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
            n_rng = len(re.findall(r"\bExchange rangepartitioning", plan))
            n_bc = len(re.findall(r"\bBroadcastExchange", plan))
        # string-based on purpose: codegen `*(n)` ids are already
        # duplicate-safe (set of ids), and the markers exist only in
        # the printed form; Python boundary names likewise
        n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
        pybits = [p for p in PY_BOUNDARIES if p in plan]
        # "any scan pushed at least one filter" — NOT "no scan has an
        # empty list": multi-scan plans (joins) legitimately mix a
        # filtered fact scan with an unfiltered dim scan, and the old
        # all-scans check reported those as pushdown='-'.
        pushed = re.search(r"PushedFilters: \[[^\]]", plan) is not None
        desc = (
            f"shuffles={n_ex + n_rng} (hash {n_ex}, range {n_rng}), "
            f"broadcasts={n_bc}, codegen_spans={n_wsc}, "
            f"python={','.join(pybits) if pybits else 'none'}, "
            f"pushdown={'yes' if pushed else '-'}"
        )
        rows.append((name, desc))

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit (generated by "
            "scripts/plan_report.py)\n\n"
            f"Planned against `{sf_dir}` WITHOUT executing.  Hard rules "
            "(no row-at-a-time Python, no CartesianProduct, whitelisted "
            "BNLJ only) are enforced by tests/test_plan_lint.py; this is "
            "the review surface behind them.  Counts come from the AQE "
            "initial plan via a tree walk that visits each cached "
            "(staged) subtree ONCE regardless of consumer count — the "
            "executed semantics (r14; the old string count re-counted "
            "staged subtrees per consumer, ~2^k× for k staged layers). "
            "Codegen spans materialize mostly at execution, so "
            "`codegen_spans` is a lower bound here.\n\n"
            "| entry | plan shape |\n|---|---|\n"
        )
        for name, desc in rows:
            f.write(f"| `{name}` | {desc} |\n")
    print(f"wrote PLANS.md ({len(rows)} entries)")


if __name__ == "__main__":
    main()
