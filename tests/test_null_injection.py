"""Null-injection property pass over the Spark/DuckDB oracle twins
(round-6, VERDICT item 3).

The r4 ``doc_dedup_delta`` bug class — a NULL text silently flipping
NOT-IN anti-join semantics — stayed latent because every fixture is
null-free.  This suite rebuilds the sf0.001 tables with DETERMINISTIC
NULLs injected into join keys, group keys, dedup payloads, dates, and
measure columns, then replays a representative twin pair from each
operator family through the same comparator as the driver gate
(``scripts/check_oracle.compare``).  Any Spark-vs-DuckDB divergence
under nulls is a real engine/oracle semantics gap of the r4 class.

Injection is hash-keyed (DuckDB ``hash(pk) % k = 0``) so the fixture
is reproducible and each run tests the same rows.
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



#: (table, column, pk expression, modulus) — every k-th row (by pk
#: hash) of ``column`` becomes NULL.  Moduli are primes so different
#: columns of one table null out different row sets.
_INJECTIONS = [
    ("documents", "text", "doc_id", 7),
    ("documents", "lang", "doc_id", 11),
    ("orders", "o_custkey", "o_orderkey", 13),
    ("orders", "o_orderdate", "o_orderkey", 17),
    ("orders", "o_orderpriority", "o_orderkey", 19),
    ("events", "event_type", "event_id", 11),
    ("events", "value", "event_id", 13),
    ("events", "user_id", "event_id", 19),
    ("events", "ts", "event_id", 23),
    ("lineitem", "l_returnflag", "l_orderkey * 10 + l_linenumber", 11),
    ("lineitem", "l_shipmode", "l_orderkey * 10 + l_linenumber", 13),
    ("customer", "c_nationkey", "c_custkey", 17),
    ("customer", "c_mktsegment", "c_custkey", 19),
    ("supplier", "s_nationkey", "s_suppkey", 5),
    ("embeddings", "embedding", "vec_id", 13),
    ("events", "props", "event_id", 29),
    # wave 8 (r7): measure/weight columns — NULL sampling weights
    # (weighted_take's filter, mixture token totals), NULL domain
    # strata, and NULL revenue/price measures through sums, argmax
    # windows, and quantiles
    ("documents", "n_chars", "doc_id", 13),
    ("documents", "source", "doc_id", 17),
    ("lineitem", "l_extendedprice", "l_orderkey * 10 + l_linenumber", 17),
    ("orders", "o_totalprice", "o_orderkey", 23),
    # wave 10 (r9): the bloom join's keys on BOTH sides — NULL fact
    # keys must be culled by the prune filter, NULL dim keys must be
    # skipped by the sketch build, and the result must still equal the
    # plain-join oracle
    ("lineitem", "l_suppkey", "l_orderkey * 10 + l_linenumber", 23),
    ("supplier", "s_suppkey", "s_suppkey", 7),
]

#: One representative twin per operator family that nulls can break:
#: dedup (full-row / keyed / hash / normalized / delta anti-join),
#: joins (inner chain, semi/anti/outer panel, set ops), windows
#: (latest-state, SCD2, trend panel), aggregates (moments, flagship,
#: master chain), and text stats over NULL documents.
ENTRIES = [
    "flagship_category_distribution",
    "master_table",
    "na_drop",
    "dedup_full_row",
    "dedup_keyed_deterministic",
    "duplicate_keys_diagnostic",
    "join_inner_chain",
    "join_variants_panel",
    "set_ops_panel",
    "cdc_latest_state",
    "events_time_decay_profile",
    "doc_prefix_contained",
    "cdc_scd2_history",
    "window_trend_panel",
    "events_stats_profile",
    "doc_exact_dedup",
    "doc_normalized_dedup",
    "doc_dedup_delta",
    "doc_text_stats",
    "grouped_top_k_revenue",
    # second wave: LSH dedup staging under NULL text, quality/PII
    # projections, sampling determinism with NULL strata, retention
    # argmax, chunking/packing over NULL token counts, the dbt panel,
    # and the remaining event analytics
    "doc_near_dup_banded",
    "doc_simhash_near_dup",
    "doc_ngram_jaccard",
    # r10: NULL ids through the seeded shuffle (dropped, the pack_bins
    # contract), NULL texts through the R-S join
    "corpus_shuffle_order",
    "doc_cross_corpus_jaccard",
    "doc_bm25_topk",
    "multimodal_integrity_audit",
    "corpus_clean_pipeline",
    # r14: the full freeze composition — NULL text must fall out at
    # the quality/shingle stages, NULL ids at the shuffle/pack stages,
    # identically in both engines
    "corpus_training_freeze",
    # r14: the incremental admission — NULL text/ids through the
    # cross-corpus anti-joins + decontam + quality, both engines
    "corpus_freeze_delta",
    # r15: drop attribution under NULL text — NULL docs must land in
    # the same stage bucket (and overlap cells) in both engines
    "corpus_freeze_audit",
    # r15: BPE merge training — NULL texts must drop out of the
    # stream identically; merge table must stay byte-stable
    "vocab_bpe_merges",
    # r15: cluster balance — NULL embeddings must fall out of the
    # quantizer/assignment and NULL texts out of the quality gate
    # identically in both engines
    "corpus_cluster_balance",
    # r15: the clustered freeze + the BPE apply leg under NULLs
    "corpus_freeze_clustered",
    "vocab_bpe_encode",
    "corpus_keep_best",
    "doc_chunk_dedup",
    "doc_weighted_sample",
    "doc_pack_bins",
    "doc_pii_redact",
    "doc_repetition_profile",
    "doc_decontaminated",
    "doc_profile",
    "pipeline_split_panel",
    "corpus_mixture_sample",
    "doc_tfidf_top_terms",
    "doc_lm_quality",
    "doc_gopher_rules",
    "doc_importance_weights",
    "doc_line_dedup",
    "doc_c4_clean",
    "dq_constraints_panel",
    "events_value_mad",
    "events_heavy_hitters",
    "dashboard_slicer_panel",
    "customer_fuzzy_matches",
    # third wave: the time-join family under NULL user_id/ts — the
    # window-formulation operators (asof, interpolate) are exactly
    # where a NULL timestamp can silently pick up the series extremum
    # instead of propagating NULL
    "events_asof_join",
    "events_interpolate_join",
    "events_transition_matrix",
    "events_cohort_retention",
    "events_funnel_steps",
    "events_value_histogram",
    "events_hourly_gapfill",
    "dashboard_most_active_day",
    "dashboard_tiles",
    # fourth wave: sessionization/range joins under NULL ts/user_id,
    # format round-trips under NULL payloads (JSON/CSV null fidelity),
    # the partitioned write under NULL-derived partition values, and
    # the remaining doc singles
    "events_sessionize",
    "events_range_join_sessions",
    "salted_join_segments",
    "ingest_roundtrip_panel",
    "master_table_partitioned_roundtrip",
    "stream_windows_panel",
    "doc_lang_id",
    "doc_token_chunks",
    "doc_token_counts",
    "doc_fingerprint",
    "doc_quality_bands",
    "doc_shingle_top10",
    # fifth wave: NULL embedding vectors through the vector family and
    # NULL props through JSON extraction
    "vec_cosine_near_dup_pinned",
    "vec_top_k_bruteforce",
    "vec_top_k_ann_signlsh",
    "vec_top_k_ann_ivf",
    "vec_ann_exhaustive_equiv",
    "corpus_semantic_dedup",
    "vec_quantize_int8",
    "vec_centroid_distance",
    "json_variant_extract",
    "json_extract",
    # sixth wave: remaining in-window panels + the two r6 sink
    # entries (NULL event_type partition values drive the additive
    # merge through the __HIVE_DEFAULT_PARTITION__ path)
    "doc_dup_clusters_panel",
    "doc_text_panel",
    "doc_profile",
    "multimodal_features",
    "multimodal_frame_sample",
    "events_analytics_panel",
    "stream_joins_panel",
    "table_maintenance_roundtrip",
    "stream_incremental_matview",
    "stream_dedup_ingest",
    "stream_line_dedup_ingest",
    # seventh wave: entries whose null gaps the round-6 review passes
    # closed (simhash bucket NULL divergence, pivot year-0 fill,
    # heavy-hitters tie-break pins)
    "doc_simhash_buckets",
    "dashboard_pivot_priority",
    # eighth wave (r7): the remaining distinct in-window twins
    # (metrics panel, production-dial cosine, the persisted IVF
    # index), the NOT-IN-class removal composition, NULL-date trend,
    # NULL-value quantiles, and the two entries the r7 dtype fixes
    # touched
    "dashboard_metrics_panel",
    "vec_cosine_near_dup",
    "vec_ivf_index_search",
    "doc_near_dup_removal",
    "dashboard_yearly_trend",
    "dashboard_price_quantiles",
    "sql_priority_share",
    "filter_pushdown",
    # ninth wave (r9): the round's new operators — winnowing under
    # NULL ids/texts, TF-IDF pairs under NULL text, OHLC/anomaly
    # under NULL ts/value/event_type, rank panel under NULL
    # priority/price
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
    # tenth wave (r9 second half): bloom-pruned join under NULL join
    # keys both sides (the no-false-negatives contract must hold with
    # the NULL-culling filter in the prune), duplicate-span detection
    # under NULL ids/texts
    "join_bloom_pruned",
    "doc_dup_spans",
    "doc_dup_span_removal",
    "bucketed_join_roundtrip",
    "doc_pagerank",
    "dashboard_pivot_unpivot_roundtrip",
    "table_diff_summary",
    "events_equidepth_histogram",
    "corpus_keep_central",
    # eleventh wave (r10 third): the drift family under NULL ts/value
    # (NULL ts must fall out of BOTH snapshot sides, NULL values out
    # of every bucket/CDF/margin), exact-decimal OLS under NULL
    # ts/value, association rules under NULL user_id/event_type
    # (NULL entities have no basket), vocabulary coverage under NULL
    # text, the MMR pool under NULL embeddings, and the interval
    # overlap under NULL ts/value bounds
    "events_psi_drift",
    "events_ks_drift",
    "events_chi2_drift",
    "events_trend_regression",
    "events_cooccurrence_lift",
    "doc_vocab_coverage",
    "vec_mmr_rerank",
    "events_interval_overlap",
    "stream_psi_monitor",
    "doc_graph_kcore",
]


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    """sf0.001 with deterministic NULLs injected (see _INJECTIONS);
    untouched tables are copied as-is so every entry can run."""
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("nulls_sf")
    injected = {}
    for table, col, pk, mod in _INJECTIONS:
        injected.setdefault(table, []).append((col, pk, mod))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{p}')"
            ).fetchall()
        ]
        exprs = []
        rules = dict(
            (c, (pk, mod)) for c, pk, mod in injected.get(t, [])
        )
        for c in cols:
            if c in rules:
                pk, mod = rules[c]
                exprs.append(
                    f"CASE WHEN hash({pk}) % {mod} = 0 "
                    f"THEN NULL ELSE {c} END AS {c}"
                )
            else:
                exprs.append(c)
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM read_parquet('{p}')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    # sanity: the injection actually produced NULLs
    n_null = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/documents.parquet') "
        "WHERE text IS NULL"
    ).fetchone()[0]
    assert n_null > 0, "null injection produced no NULL texts"
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def duck(nulls_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(nulls_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_twin_agrees_under_injected_nulls(spark, nulls_dir, duck, name, check):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    try:
        problems = check.compare(
            name, spark, duck, nulls_dir, queries[name], oracles[name]
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
