"""Repo-wide physical-plan lint: EVERY batch query in the driver
contract is explained and checked for operators that do not survive a
100× scale-up.  A new query (or a refactor of an old one) that
regresses into a cartesian product, a row-at-a-time Python UDF, or an
unintended nested-loop join fails here before it ever ships.

Also pins the driver OUTPUT contract: every entry must return only
scalar (atomic) columns — the driver canonicalizes results through
pandas ``sort_values``, which cannot hash list cells (an ``array``
column crashed the ``vec_quantize_pq`` row in round 4's gate).

LINT BLIND SPOT (r15 ADVICE): entries that ``localCheckpoint`` an
upstream relation (the pagerank family's pair relation, the BPE
rounds) truncate it to a flat ``ExistingRDD`` scan, so this lint no
longer sees the checkpointed subtree's plan — and explaining such an
entry EXECUTES the checkpoint.  Coverage of the hidden subtrees comes
from their standalone entries (the near-dup pair plans are linted via
``doc_near_dup_banded`` etc.), which is why every checkpointing
composition keeps a standalone twin in the registry.
"""

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entrymod
import panel_legs

#: Streaming entries execute on construction (availableNow run) — their
#: plan shape is covered by tests/test_streaming.py instead.
_STREAMING = {
    "stream_tumbling_counts",
    "stateful_running_profile",
    # executes a full 3-micro-batch availableNow run on construction;
    # its returned frame is a plain parquet read — the streaming
    # pipeline itself is vetted in tests/test_streaming.py
    "stream_dedup_ingest",
    "stream_line_dedup_ingest",
    # execute an availableNow monitor run on construction and return
    # a plain parquet read; vetted in tests/test_stream_monitor.py
    "stream_psi_monitor",
    "stream_ks_monitor",
    "stream_chi2_monitor",
}

#: BroadcastNestedLoopJoin is acceptable ONLY for bounded broadcast
#: fan-outs, where the build side is a handful of rows by construction:
_BNLJ_OK = {
    "dashboard_tiles",  # crossJoin of three 1-row tile aggregates
    "vec_top_k_bruteforce",  # broadcast query set × corpus (by design)
    "vec_top_k_ann_ivf",  # broadcast centroid set (n_cells rows)
    "doc_tfidf_top_terms",  # broadcast 1-row corpus-count aggregate
    "doc_lm_quality",  # broadcast 1-row vocabulary-count aggregate
    "doc_importance_weights",  # broadcast 1-row Nt/Nr total aggregates
    "vec_quantize_int8",  # broadcast 1-row per-dim min/max stats array
    "events_heavy_hitters",  # 20-row top-k × broadcast 1-row totals
    # |domains|-row rates × broadcast 1-row feasible-budget/total aggs
    "corpus_mixture_sample",
    # r15: cluster balance reuses mixture_keep_rates' 1-row
    # feasible-budget broadcast verbatim (|clusters|-row build side;
    # same bound as corpus_mixture_sample — the build-round commit
    # adding the entry never enrolled it here because the full suite
    # was never run before the interrupt)
    "corpus_cluster_balance",
    # r14: the freeze inherits mixture_rates' 1-row feasible-budget
    # broadcast (same bound as corpus_mixture_sample)
    "corpus_training_freeze",
    # r14: freeze-stats adds its own 1-row grand-total broadcast on
    # top of the inherited freeze broadcasts (dashboard_tiles class)
    "corpus_freeze_stats",
    # r15: each BPE merge round broadcasts its 1-row winning pair
    # onto the token stream, and the per-step stats row crossJoins
    # the same 1-row top relation (pagerank normalization class)
    "vocab_bpe_merges",
    # broadcast 1-row max(ts) anchor onto the events scan (r8 EWMA)
    "events_time_decay_profile",
    # broadcast 1-row corpus-count aggregate onto the tf relation
    # (r9; same class as doc_tfidf_top_terms)
    "doc_tfidf_cosine_pairs",
    # broadcast 1-row Bloom sketch (<= num_bits/64 map words) onto the
    # fact scan — the runtime-filter construction itself (r9)
    "join_bloom_pruned",
    # broadcast 1-row node-count aggregate onto the |V|-row rank
    # relation, once per PageRank iteration (r9; r10: the weighted
    # variant inherits the identical construction)
    "doc_pagerank",
    "doc_pagerank_weighted",
    # same class — the CC x PageRank composition inherits it
    "corpus_keep_central",
    # broadcast 1-row corpus stats (N, avgdl) onto the matched
    # postings (r10 BM25); the hybrid entry additionally inherits the
    # broadcast-query bruteforce scorer (the vec_top_k_bruteforce
    # class)
    "doc_bm25_topk",
    "doc_hybrid_search_rrf",
    # r11 PRF: inherit the BM25 1-row corpus-stats broadcast, plus the
    # 1-row corpus-count onto the bounded feedback-term relation
    "doc_prf_expansion",
    "doc_bm25_prf_topk",
    # the serving composition plans its BM25 and PRF legs in the
    # returned frame (the MMR greedy is a grouped map over them), so
    # it inherits their 1-row corpus-stats broadcast; every BNLJ in
    # its plan has that 1-row aggregate as build side
    "retrieval_serving_pipeline",
    # drift monitors (r10): broadcast 1-row edge/margin/total
    # relations onto the tagged union and the <= buckets-row bucket
    # table (same totals-relation class as dashboard_tiles)
    "events_psi_drift",
    "events_ks_drift",
    "events_chi2_drift",
    # broadcast 1-row entity-universe count onto the pair table (r10)
    "events_cooccurrence_lift",
    # inherits the vec_top_k_bruteforce broadcast-query crossJoin for
    # its candidate pool (r10 MMR; the greedy runs as a grouped map)
    "vec_mmr_rerank",
    # broadcast 1-row corpus-total onto the <= v-row top relation (r10)
    "doc_vocab_coverage",
    # r11: broadcast 1-row customer-count total onto each distributed-
    # ntile pass (the dashboard_tiles totals-relation class)
    "customer_rfm_segments",
    # r11: broadcast 1-row bruteforce-truth count onto each 1-row
    # matched aggregate (five 1-row x 1-row tiles) + the inherited
    # vec_top_k_bruteforce broadcast-query scorer
    "vec_ann_recall_profile",
    # r11: inherits the vec_top_k_bruteforce broadcast-query crossJoin
    # over the predicate-filtered corpus
    "vec_filtered_topk",
    # r12: the PQ recall curve inherits vec_ann_recall_profile's
    # 1-row truth/matched tile broadcasts + the bruteforce scorer
    "vec_ann_recall_profile_pq",
}

#: the registered entries and the panel legs tests/panel_legs.py
#: names — a leg is linted without its panel's whitelist entries
_QUERIES = sorted((set(entrymod.queries()) | set(panel_legs.LEGS)) - _STREAMING)


@pytest.mark.parametrize("name", _QUERIES)
def test_no_pathological_operators(spark, smoke_dir, name):
    df = panel_legs.builder(name)(spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: unbounded cartesian"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join — add an equi-key (bucket, band, "
            "cell) or whitelist if the build side is provably tiny"
        )
    for f in df.schema.fields:
        assert isinstance(f.dataType, T.AtomicType), (
            f"{name}.{f.name} is {f.dataType.simpleString()} — driver "
            "entries must return scalar columns only (serialize arrays/"
            "structs, e.g. concat_ws/to_json); pandas canonicalization "
            "cannot hash list cells"
        )


#: Unpartitioned Window whitelist (r11): a WindowExec with NO
#: partition spec funnels its whole input through one task — at 100 TB
#: that is a scale cliff UNLESS the input is bounded by construction.
#: Windows whose subtree carries an explicit limit (TakeOrderedAndProject,
#: Global/LocalLimit, a literal/local relation) pass automatically; the
#: entries here run a global window over a relation that is bounded by
#: an AGGREGATE'S key domain instead — a cap the plan cannot prove, so
#: each carries its bound here and a reviewer can audit the list.
_GLOBAL_WINDOW_OK = {
    # hour-spine windows: calendar cardinality (a year ~ 8.8k rows)
    "events_hourly_gapfill",
    "events_analytics_panel",  # inherits the gapfill spine stage
    "events_changepoint_profile",  # CUSUM over the hourly buckets
    "events_ohlc_bars",  # bars keyed by hour bucket
    "stream_ohlc_bars",  # same bars, streaming merge path
    # <= buckets-row subtotal offsets (two-level prefix-sum pattern;
    # level-2 exclusive offsets over <= 32/256 bucket rows)
    "events_ks_drift",
    "doc_pack_bins",  # level-2 bin offsets over shard subtotals
    "events_distributed_rank",  # level-2 rank offsets over subtotals
    "events_equidepth_histogram",  # quantile-edge bucket subtotals
    # <= |vocab-cut| / <= k retrieval relations (post-TakeOrdered
    # heaps re-ranked; the limit sits in a separate stage the plan
    # string does not always surface under AQE)
    "doc_vocab_coverage",
    "corpus_shuffle_order",  # round-robin shard spine (<= shards rows)
    "pipeline_split_leakage",  # <= |eval| x |train-hit| audit pairs
    "dashboard_pivot_unpivot_roundtrip",  # <= |priority| pivot columns
    "window_rank_panel",  # deliberate: the ranking-surface exhibit
    # pct-of-total over a <= |category-domain| aggregate (3 return
    # flags / 5 order priorities) — the classic tiny share window
    "dashboard_share_by_flag",
    "sql_priority_share",
    # r11: the distributed-ntile level-2 offsets — global window over
    # the <= shuffle-partitions subtotal relation (the r9 shape that
    # windowed the whole CUSTOMER relation was fixed by this lint)
    "customer_rfm_segments",
    # r14: the freeze composition inherits BOTH two-level subtotal
    # windows (corpus_shuffle's 256-bucket offsets + pack_bins' 4096-
    # doc-per-row bin offsets) — each bounded by construction;
    # freeze-stats consumes the same manifest
    "corpus_training_freeze",
    "corpus_freeze_stats",
}


def _iter_plan_nodes(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _iter_plan_nodes(node.initialPlan())
        return
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _iter_plan_nodes(kids.apply(i))


_BOUNDED_MARKERS = {
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "LocalTableScanExec",
    "RDDScanExec",
}


def _subtree_bounded(node):
    return any(
        n.getClass().getSimpleName() in _BOUNDED_MARKERS
        for n in _iter_plan_nodes(node)
    )


@pytest.mark.parametrize("name", _QUERIES)
def test_unpartitioned_windows_are_bounded(spark, smoke_dir, name):
    """Every WindowExec with an empty partition spec must sit above a
    provably bounded input (an explicit limit or a literal relation in
    its subtree) or be whitelisted with its bound documented — the r10
    verdict's lint gap: a future UNBOUNDED global window sailed through
    as a log warning."""
    df = panel_legs.builder(name)(spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan()
    offenders = []
    for node in _iter_plan_nodes(plan):
        if node.getClass().getSimpleName() not in (
            "WindowExec",
            "WindowGroupLimitExec",
        ):
            continue
        if not node.partitionSpec().isEmpty():
            continue
        if _subtree_bounded(node):
            continue
        offenders.append(node.nodeName())
    if offenders and name not in _GLOBAL_WINDOW_OK:
        raise AssertionError(
            f"{name}: unpartitioned Window over an unproven input "
            f"({offenders}) — bound it (limit / two-level decomposition) "
            "or whitelist it with the bound documented"
        )
