"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced with the ``noop`` sink — full plan execution,
no driver-side collect skew.  First query includes JVM/codegen warmup
for the scan path, so a tiny warmup action runs first.

Each query runs ``$SPARK_GRAFT_BENCH_RUNS`` times (default 3) and the
reported figure is the per-query MEDIAN — single-run timings swung
±20-30% round-to-round (codegen warmup on first invocation, GC
timing) and masqueraded as regressions.  ``runs`` and the raw
per-query samples ship in the JSON so outliers stay diagnosable.

Named entries and ``--conf k=v`` session overrides give a same-session
A/B under the same timing discipline::

    python bench.py q1 q2 --conf spark.sql.shuffle.partitions=8

Only the named entries run (at ``$SPARK_GRAFT_SF_DIR``, no small
tier) and the record echoes each override as the session reports it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from yelp_review_data_analysis_using_big_data_technologies_spark.session import get_spark
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

import __spark_entry__ as entrymod

#: The queries that represent the engine's critical paths: full
#: master-table ETL (joins+derive), agg/window dashboards, dedup,
#: the SQL layer, the LLM-pipeline operators, and the streaming slice.
HEADLINE = (
    "master_table",
    "flagship_category_distribution",
    "dedup_full_row",
    "dedup_keyed_deterministic",
    "join_inner_chain",
    "dashboard_share_by_flag",
    "dashboard_yearly_trend",
    "dashboard_engagement",
    "dashboard_top_nations",
    "dashboard_rollup_slicers",
    "window_trend_panel",
    "sql_revenue_by_nation",
    "doc_exact_dedup",
    "doc_near_dup_banded",
    "doc_ngram_jaccard",
    "doc_simhash_buckets",
    "doc_simhash_near_dup",
    "vec_cosine_near_dup",
    "corpus_clean_pipeline",
    "doc_dedup_delta",
    "doc_text_stats",
    "doc_profile",
    "vec_top_k_bruteforce",
    "vec_top_k_ann_signlsh",
    "vec_top_k_ann_ivf",
    "vec_top_k_ann_ivfpq",
    "corpus_semantic_dedup",
    "pipeline_split_panel",
    "multimodal_features",
    "multimodal_frame_sample",
    "doc_dup_clusters_panel",
    "doc_decontaminated",
    "doc_repetition_profile",
    "doc_pii_redact",
    "doc_tfidf_top_terms",
    "doc_token_chunks",
    "vec_quantize_int8",
    "stream_tumbling_counts",
    "stream_dedup_ingest",
    "stream_line_dedup_ingest",
    "events_asof_join",
    "events_range_join_sessions",
    "events_hourly_gapfill",
    "events_interpolate_join",
    "events_funnel_steps",
    "events_cohort_retention",
    "events_transition_matrix",
    "events_value_mad",
    "customer_fuzzy_matches",
    # round-5 additions
    "corpus_keep_best",
    "doc_chunk_dedup",
    "doc_weighted_sample",
    "corpus_mixture_sample",
    "doc_pack_bins",
    "vec_ivf_index_search",
    "events_heavy_hitters",
    "cdc_scd2_history",
    "dq_constraints_panel",
    "events_stats_profile",
    # round-6 additions
    "set_ops_panel",
    "master_table_partitioned_roundtrip",
    # round-7 additions: the two r7-rotated sink paths (maintenance
    # merge+compact and the additive streaming matview) price their
    # write amplification in the headline
    "table_maintenance_roundtrip",
    "stream_incremental_matview",
    # round-8 additions: the Arrow-batched NFC ingest normalizer, the
    # LSH degenerate-clique pre-flight, the fixed-anchor EWMA, and the
    # sorted-neighborhood prefix dedup price their scan+agg cost
    "doc_unicode_normalized",
    "doc_band_bucket_profile",
    "events_time_decay_profile",
    "doc_prefix_contained",
    # the bigram-LM perplexity scorer prices its two corpus-model
    # hash aggregates + the score re-join; the Gopher rule panel
    # prices the HOF-heavy zero-shuffle projection path
    "doc_lm_quality",
    "doc_gopher_rules",
    "doc_importance_weights",
    "doc_line_dedup",
    "doc_c4_clean",
    # round-9 additions: winnowing (doc_id-window min + distinct;
    # the pair join prices the fp-keyed bucket self-join), the sparse
    # TF-IDF posting-list cosine, OHLC resampling (one partial agg),
    # the IQR broadcast-back profile, and the two-sort rank panel
    "doc_winnow_fingerprints",
    "doc_winnow_pairs",
    "doc_tfidf_cosine_pairs",
    "events_ohlc_bars",
    "events_anomaly_profile",
    "window_rank_panel",
    "stream_ohlc_bars",
    "events_distributed_rank",
    "customer_rfm_segments",
    "events_session_attribution",
    "join_bloom_pruned",
    "doc_dup_spans",
    "doc_dup_span_removal",
    "bucketed_join_roundtrip",
    "doc_pagerank",
    "dashboard_pivot_unpivot_roundtrip",
    "table_diff_summary",
    "events_equidepth_histogram",
    "corpus_keep_central",
    # round-10 additions: the global keep-first streaming doc dedup
    # prices three foreachBatch rounds of feature build + index join;
    # the Jaccard regime dispatcher prices profile + chosen plan
    "stream_doc_dedup_ingest",
    "doc_ngram_jaccard_auto",
    # the R-S cross-corpus join, the triangle diagnostic over the
    # near-dup graph, and the hourly CUSUM changepoint
    "doc_cross_corpus_jaccard",
    "doc_graph_triangles",
    "events_changepoint_profile",
    "doc_pagerank_weighted",
    "corpus_shuffle_order",
    "doc_graph_communities",
    "pipeline_split_leakage",
    "multimodal_integrity_audit",
    "doc_bm25_topk",
    "doc_hybrid_search_rrf",
    # drift monitors: PSI buckets, two-level KS, χ² category mix
    "events_psi_drift",
    "events_ks_drift",
    "events_chi2_drift",
    # exact-decimal OLS trend and pairwise association rules
    "events_trend_regression",
    "events_cooccurrence_lift",
    # MMR diversity re-rank over the exact-cosine candidate pool
    "vec_mmr_rerank",
    # vocabulary coverage / OOV audit
    "doc_vocab_coverage",
    # streaming PSI drift monitor (3 foreachBatch scoring rounds)
    "stream_psi_monitor",
    # interval x interval overlap join (bucketized + cell dedup)
    "events_interval_overlap",
    # 2-core density filter over the near-dup graph
    "doc_graph_kcore",
    # round-11 additions: the end-to-end serving composition (index
    # build + pruned search + BM25 + RRF + greedy MMR rounds) and the
    # streaming KS monitor (3 foreachBatch exact-KS scoring rounds)
    "retrieval_serving_pipeline",
    "stream_ks_monitor",
    "stream_chi2_monitor",
    # recall curve (bruteforce + 4 IVF probes + 3 LSH dials) and the
    # metadata-filtered exact search
    "vec_ann_recall_profile",
    "vec_filtered_topk",
    # pseudo-relevance feedback: two BM25 passes + the expansion agg
    "doc_bm25_prf_topk",
    # round-12 additions: filtered ANN over the persisted pruned index
    # (prices the probe-widening rungs), the grouped-map MMR dispatch,
    # the persisted IVF-PQ build+search, and the PQ recall curve
    # (bruteforce + 4 ADC legs)
    "vec_filtered_ann",
    "vec_mmr_rerank_batch",
    "vec_ivfpq_index_search",
    # streaming IVF-index maintenance: build wave + two frozen-seed
    # delta merges + the post-ingest pruned search
    "stream_ann_index_ingest",
    # incremental embedding dedup: R-S banded key join + verify
    "vec_dedup_delta",
    # round-13 additions: the persistent-catalog serving path
    # (external registration + managed dim + ANALYZE + view), the
    # partition-pruned retention deletes (slice erase + TTL expiry),
    # and the index lifecycle (build + 2 merges + compaction + search)
    "catalog_persistent_roundtrip",
    "orders_retention_delete",
    "vec_ivf_index_compacted",
    "vec_index_forget",
    "ingest_schema_evolution",
    # round-14 addition: the end-to-end training-data freeze prices
    # the full composition (dedup chain + decontam + quality +
    # mixture + shuffle + pack) — the artifact a training run reads
    "corpus_training_freeze",
    # filtered ANN over the compressed index: build + per-rung pruned
    # code scans + by-id re-rank — the production serving combination
    "vec_filtered_ann_pq",
    # streaming maintenance of the compressed index: bootstrap build
    # (frozen quantizers) + two delta merges + post-drain ADC search
    "stream_pq_index_ingest",
    # round-15 additions: freeze drop-attribution audit (the
    # admission chain re-run with tagged anti-join legs + overlap
    # fingerprinting of the dropped set), BPE merge training (6
    # unrolled count/select/merge rounds over the token stream), and
    # the semantic cluster balance (seeded centroids + even-mass
    # mixture membership)
    "corpus_freeze_audit",
    "vocab_bpe_merges",
    "corpus_cluster_balance",
)

#: Correctness cross-checks that are intentionally NOT production
#: paths (e.g. the pyspark.ml MinHashLSH twin of the hand-rolled
#: banded join — `approxSimilarityJoin` explodes per-table bucket
#: keys and was 14% of the sf0.1 headline wall time).  They still run
#: and report, but at the SMALL scale factor, outside the headline
#: total, so the headline reflects paths a deployment would run.
#: r14 demotions (r12 #4 / r13 #6 verdict queues):
#: - doc_ngram_jaccard_prefix: the bench corpus at t=0.3 keeps ~70%
#:   of shingles — the documented regime where prefix filtering
#:   CANNOT pay (6.7 s of pure diagnostic cost); the auto dispatcher
#:   entry stays in the headline and proves the regime choice.
#: - vec_ann_recall_profile_pq: a rows-only 4-leg recall-curve
#:   diagnostic (12-25 s) — a tuning exhibit, not a serving path;
#:   the PQ serving path itself stays via vec_ivfpq_index_search.
SMALL_TIER = (
    "doc_near_dup_minhash_ml",
    "doc_ngram_jaccard_prefix",
    "vec_ann_recall_profile_pq",
)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def selection(names) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(entries timed at the headline scale, entries timed at the small
    scale): the named entries alone, or HEADLINE + SMALL_TIER."""
    return (tuple(names), ()) if names else (HEADLINE, SMALL_TIER)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="Time engine entries; print one JSON line.")
    ap.add_argument("names", nargs="*", help="entries to time (default: HEADLINE + SMALL_TIER)")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="session config override, repeatable")
    args = ap.parse_args(argv)
    queries = entrymod.queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"unknown entries: {', '.join(unknown)}")
    bad = [kv for kv in args.conf if "=" not in kv]
    if bad:
        ap.error(f"--conf expects K=V, got: {', '.join(bad)}")
    conf = dict(kv.split("=", 1) for kv in args.conf)
    names, small = selection(args.names)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench", extra_conf=conf)

    # warmup: spin the JVM + parquet reader once, not billed to queries
    load_table(spark, sf_dir, "nation").count()

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    def _time(names, at_dir) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for name in names:
            fn = queries[name]
            out[name] = []
            for _ in range(runs):
                t0 = time.perf_counter()
                _force(fn(spark, at_dir))
                out[name].append(round(time.perf_counter() - t0, 3))
                # Caches are per-query scratch (our staging registry +
                # anything a library operator pinned, e.g. pyspark.ml's
                # LSH internals) — drop them so successive timings don't
                # inherit memory pressure.  All of this is deliberately
                # OUTSIDE the timed window, and the release is blocking:
                # async unpersist pushes block-removal work into the next
                # query's measurement (observed 3-4x inflation).
                release_staging(blocking=True)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                spark.range(1).count()  # settle barrier before next timing
        return out

    samples = _time(names, sf_dir)
    timings = {
        name: round(statistics.median(vals), 3) for name, vals in samples.items()
    }
    record = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "samples": samples,
    }
    if small:
        small_dir = os.environ.get(
            "SPARK_GRAFT_SMALL_SF_DIR", "/root/testdata/sf0.01"
        )
        record["small_tier_sf"] = small_dir.rstrip("/").rsplit("sf", 1)[-1]
        record["small_tier"] = {
            name: round(statistics.median(vals), 3)
            for name, vals in _time(small, small_dir).items()
        }
    record["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    if conf:
        record["conf"] = {k: spark.conf.get(k) for k in conf}
    print(json.dumps(record))


if __name__ == "__main__":
    main()
