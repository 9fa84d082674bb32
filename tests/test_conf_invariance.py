"""Configuration-invariance gate (r9 second half): results must not
depend on AQE or the shuffle width.

tests/test_partition_invariance.py pins INPUT-layout independence;
this suite pins the two EXECUTION-config axes a cluster operator
actually varies run-to-run: adaptive execution (runtime coalescing /
skew splitting / join re-planning) and ``spark.sql.shuffle.partitions``
(32 locally, thousands on a real cluster).  An entry whose result
changes under either is silently depending on physical planning — the
class of bug that passes every fixed-config gate and breaks on the
first cluster resize.

One representative entry per family runs through the driver
comparator with (a) AQE disabled and (b) a prime shuffle width, and
must stay hash-equal to the DuckDB oracle both times.  Float-summing
entries are safe by the SANE_VALUE_MAX contract (r9 cancellation
class); everything else must be exactly layout-free.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

SMOKE = "/root/testdata/sf0.001"

#: one per family: ETL chain, join panel, window trend, LSH dedup,
#: sessionize, packing, vector top-k, two-level rank, spans, graph,
#: reconciliation, equi-depth quantiles
ENTRIES = [
    "master_table",
    "join_variants_panel",
    "window_trend_panel",
    "doc_near_dup_banded",
    "events_sessionize",
    "doc_pack_bins",
    "vec_top_k_bruteforce",
    "events_distributed_rank",
    "doc_dup_spans",
    "doc_pagerank",
    "table_diff_summary",
    "events_equidepth_histogram",
    # r10 families: weighted rank rides doc_pagerank; these five are
    # new shapes (R-S join, wedge close, CUSUM window, two-level rank
    # permutation, LPA argmax) and must be layout-free too
    "doc_cross_corpus_jaccard",
    "doc_graph_triangles",
    "events_changepoint_profile",
    "corpus_shuffle_order",
    "doc_graph_communities",
    # r10 second wave: BM25 broadcast-stats scoring and the RRF union
    "doc_bm25_topk",
    "doc_hybrid_search_rrf",
    # r10 third wave: drift monitors — the KS two-level CDF prefix
    # sum and the PSI/χ² decimal-summed totals must not move with
    # layout
    "events_psi_drift",
    "events_ks_drift",
    "events_chi2_drift",
    # exact-decimal OLS (the whole point is layout-freedom) and the
    # capped distinct-relation self-join
    "events_trend_regression",
    "events_cooccurrence_lift",
    # the grouped-map MMR greedy (per-group pandas arithmetic) must
    # pick identical sequences under any layout
    "vec_mmr_rerank",
    # TakeOrderedAndProject top-v + bounded windows
    "doc_vocab_coverage",
    # bucketized interval-overlap join (first-overlapping-cell dedup)
    "events_interval_overlap",
    # fixed-iteration k-core peel (checkpointed rounds)
    "doc_graph_kcore",
    # r12 shapes: the probe-widening ladder (per-query eff-probe
    # derivation must not move with layout) and the R-S banded-LSH
    # delta dedup (anti-join admission)
    "vec_filtered_ann",
    "vec_dedup_delta",
    # r13 shapes: catalog-resolved serving (external tables + managed
    # partitioned dim + persistent view) — resolution and the CBO
    # stats must not change the result under any layout; the
    # partition-pruned retention deletes (touched-set probe + emptied-
    # dir removal must find the same partitions under any layout); and
    # index-layer erasure (the anti-join rewrite must forget exactly
    # the target ids whatever the file layout)
    "catalog_persistent_roundtrip",
    "orders_retention_delete",
    "vec_index_forget",
    # r14 shape: the freeze composition chains every deterministic
    # stage (staged dedup, broadcast fingerprints, two-level prefix
    # sums) — the manifest must be byte-identical under any layout
    "corpus_training_freeze",
    # r15: the audit composes the same stages with tagged anti-join
    # legs — attribution counts must not depend on layout
    "corpus_freeze_audit",
    # r15: the BPE unroll chains K window+top-1 rounds — the learned
    # merge table must be identical under any shuffle layout
    "vocab_bpe_merges",
    # r15: the cluster-balanced kept set must not depend on layout
    # (driver-literal centroids + salted-hash membership)
    "corpus_cluster_balance",
    "corpus_freeze_clustered",
    "vocab_bpe_encode",
]

_CONFS = [
    ("aqe_off", {"spark.sql.adaptive.enabled": "false"}),
    ("shuffle_7", {"spark.sql.shuffle.partitions": "7"}),
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SMOKE, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("cname,conf", _CONFS, ids=[c[0] for c in _CONFS])
@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_conf(spark, duck, name, cname, conf, check):
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        problems = check.compare(
            name,
            spark,
            duck,
            SMOKE,
            entrymod.queries()[name],
            entrymod.oracle_sql()[name],
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        release_staging()
    assert not problems, f"[{cname}] " + "\n".join(problems)
