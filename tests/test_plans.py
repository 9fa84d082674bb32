"""Physical-plan guards (SURVEY.md §4): the scale properties the
engine promises — pushdown reaching the parquet scan, column pruning,
size-gated broadcasts, partial-agg dedup, no all-pairs joins — are
asserted on the executed plans so a refactor can't silently regress
them.
"""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_filter_and_projection_reach_scan(spark, smoke_dir, queries):
    plan = _plan(queries["filter_pushdown"](spark, smoke_dir))
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters", 1)[1][:200]
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m is not None
    # only the 4 selected columns are read, not lineitem's full width
    assert len(m.group(1).split(",")) == 4


def test_master_table_prunes_lineitem_scan(spark, smoke_dir, queries):
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = _plan(queries["master_table"](spark, smoke_dir))
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = [s for s in schemas if "l_orderkey" in s]
    assert li and all(len(s.split(",")) == 6 for s in li)  # 6 kept fact cols


def test_master_table_broadcasts_fixed_dim(spark, smoke_dir, queries):
    plan = _plan(queries["master_table"](spark, smoke_dir))
    # nation (25 rows, hinted) must broadcast at every scale factor
    assert "BroadcastHashJoin" in plan
    # and no cartesian anywhere in the pipeline
    assert "CartesianProduct" not in plan


def test_dedup_keyed_uses_partial_aggregate_not_window(spark, smoke_dir, queries):
    plan = _plan(queries["dedup_keyed_deterministic"](spark, smoke_dir))
    assert "Window" not in plan
    # partial + final aggregation: min(struct) appears in two
    # aggregate nodes around one exchange
    assert plan.count("Aggregate") >= 2 and "Exchange" in plan


def test_near_dup_join_is_bucket_partitioned(spark, smoke_dir, queries):
    plan = _plan(queries["doc_near_dup_banded"](spark, smoke_dir))
    # the candidate join must be an equi-join on the band bucket,
    # never a cartesian/broadcast-nested-loop over all pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vector_ann_joins_on_bucket(spark, smoke_dir, queries):
    plan = _plan(queries["vec_top_k_ann_signlsh"](spark, smoke_dir))
    assert "__bucket" in plan and "CartesianProduct" not in plan


def test_text_stats_stays_jvm_side(spark, smoke_dir, queries):
    # text analysis must stay JVM-side (no Python row UDFs), aggregate
    # with a map-side partial, and scan only text+lang
    plan = _plan(queries["doc_text_stats"](spark, smoke_dir))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "partial_count" in plan or "partial_avg" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and sorted(m.group(1).split(",")) == ["lang:string", "text:string"]


def test_bucketed_join_is_colocated_no_exchange(spark, smoke_dir, tmp_path_factory):
    """Tables bucketed on the join key with equal bucket counts must
    sort-merge join with ZERO Exchange operators — the write-time
    shuffle is amortized across every later join on the key."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_bucketed

    base = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, smoke_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, smoke_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    write_bucketed(
        orders, "t_orders_b", ["o_custkey"], sort_cols=["o_custkey"],
        path=str(base / "orders"),
    )
    write_bucketed(
        customer, "t_customer_b", ["c_custkey"], sort_cols=["c_custkey"],
        path=str(base / "customer"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob = spark.table("t_orders_b")
        cb = spark.table("t_customer_b")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey)
        n = joined.count()
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        # same cardinality as the plain (shuffled) join
        plain = (
            load_table(spark, smoke_dir, "orders")
            .join(
                load_table(spark, smoke_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_bucketed_scan_prunes_buckets_on_key_equality(
    spark, smoke_dir, tmp_path_factory
):
    """An equality predicate on the bucket key must prune the scan to
    ONE bucket (SelectedBucketsCount: 1 out of N) — at warehouse scale
    that is a 1/N I/O cut on every keyed point lookup, the read-side
    half of the bucketing contract."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.writers import write_bucketed

    base = tmp_path_factory.mktemp("bucket_prune")
    orders = load_table(spark, smoke_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    try:
        write_bucketed(
            orders, "t_orders_bp", ["o_custkey"],
            sort_cols=["o_custkey"], path=str(base / "orders"),
        )
        some_key = orders.select("o_custkey").first()[0]
        # autoBucketedScan drops the bucketed read when no Exchange
        # would be saved — a pure point-lookup needs it pinned on to
        # get bucket pruning (what a warehouse sets for keyed lookups)
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        scan = spark.table("t_orders_bp").where(F.col("o_custkey") == some_key)
        plan = _plan(scan)
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
    finally:
        spark.conf.unset(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        )
        spark.sql("DROP TABLE IF EXISTS t_orders_bp")


def test_asof_join_no_nested_loop_single_shuffle_per_side(spark, smoke_dir, queries):
    plan = _plan(queries["events_asof_join"](spark, smoke_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # union + one window pass: no SortMergeJoin of the two event sets
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_range_join_uses_hash_equi_join_not_nested_loop(spark, smoke_dir, queries):
    plan = _plan(queries["events_range_join_sessions"](spark, smoke_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_approx_aggregates_within_error_bounds(spark, smoke_dir):
    """The sketch-based scale twins must land within their advertised
    error of the exact aggregates (HLL++ rsd=2%; KLL accuracy 1e4)."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.plans.analytics import approx_profile
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    approx = approx_profile(spark, smoke_dir).collect()[0]
    orders = load_table(spark, smoke_dir, "orders")
    exact_customers = orders.select("o_custkey").distinct().count()
    exact_median = orders.approxQuantile("o_totalprice", [0.5], 0.0)[0]
    assert abs(approx.approx_customers - exact_customers) <= 0.05 * exact_customers
    # percentile_approx at accuracy 10k on 15k rows: within 1% of the
    # exact median's neighborhood
    assert abs(approx.approx_median - exact_median) <= 0.01 * exact_median


def test_sketch_rollup_union_consistent_and_accurate(spark, smoke_dir):
    """Unioning fine-grained HLL sketches must estimate each year's
    distinct customers within HLL error of the exact count — the
    re-aggregatability contract that makes the sketch table a valid
    materialized rollup."""
    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.plans.analytics import sketch_rollup
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    got = {r.o_year: r.approx_customers for r in sketch_rollup(spark, smoke_dir).collect()}
    orders = load_table(spark, smoke_dir, "orders")
    exact = {
        r.o_year: r.n
        for r in orders.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for y, n in exact.items():
        assert abs(got[y] - n) <= max(0.05 * n, 2), (y, got[y], n)


def test_ivf_index_search_prunes_cell_partitions(spark, smoke_dir, tmp_path_factory):
    """The persisted IVF index is partitioned by cell_id so a probe
    reads ONLY the probed cells' directories: the scan must carry the
    cell filter as PartitionFilters (directory pruning), and the
    pruned search must return exactly what the in-memory operator
    returns with the same centroids and dials."""
    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    emb = load_table(spark, smoke_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    lvec.build_ivf_index(emb, path, n_cells=8)

    out = lvec.search_ivf_index(spark, path, queries, k=5, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = next(
        seg for seg in plan.split("FileScan") if "cells" in seg.split("\n")[0]
    )
    head = scan.split("\n")[0]
    assert "PartitionFilters" in head and "cell_id" in head.split(
        "PartitionFilters"
    )[1].split("]")[0], head

    # pruned result == in-memory operator result (same seeds/dials)
    expect = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rk)
        for r in lvec.top_k_ann_ivf(emb, queries).collect()
    )
    got = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rk) for r in out.collect()
    )
    assert got == expect


def test_ivf_index_delta_append_rewrites_only_touched_cells(
    spark, smoke_dir, tmp_path_factory
):
    """add_to_ivf_index merges a delta batch into the persisted cells
    with dynamic partition overwrite: searches see the new vectors,
    and cell directories the delta does not touch keep their files
    byte-identical (mtime/name check)."""
    import os

    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    emb = load_table(spark, smoke_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1).limit(3)
    path = str(tmp_path_factory.mktemp("ivf_delta") / "index")
    lvec.build_ivf_index(base, path, n_cells=8)

    def snapshot():
        out = {}
        cells_root = os.path.join(path, "cells")
        for d in os.listdir(cells_root):
            if not d.startswith("cell_id="):
                continue
            full = os.path.join(cells_root, d)
            out[d] = {
                f: os.path.getmtime(os.path.join(full, f))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
        return out

    before = snapshot()
    lvec.add_to_ivf_index(delta, path)
    after = snapshot()

    delta_ids = {r.vec_id for r in delta.collect()}
    stored = spark.read.parquet(f"{path}/cells")
    stored_ids = {r.vec_id for r in stored.collect()}
    assert delta_ids <= stored_ids
    # base rows survive the merge
    assert {r.vec_id for r in base.collect()} <= stored_ids

    touched = {
        f"cell_id={r.cell_id}"
        for r in stored.filter(
            F.col("vec_id").isin(list(delta_ids))
        ).select("cell_id").distinct().collect()
    }
    untouched = set(before) - touched
    assert untouched, "delta touched every cell - test data too small"
    for d in untouched:
        assert before[d] == after[d], f"untouched partition {d} rewritten"

    # searches over the merged index can return delta vectors
    q = emb.filter(F.col("vec_id").isin(list(delta_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    ).limit(1)
    hits = lvec.search_ivf_index(spark, path, q, k=1, n_probe=8).collect()
    assert hits and hits[0].vec_id == hits[0].query_id  # self is nearest


def test_master_partitioned_roundtrip_prunes_year(spark, smoke_dir):
    """The partitioned master-table round-trip (driver entry
    master_table_partitioned_roundtrip) must resolve the o_year
    predicate against directory metadata: the staged scan carries the
    year in PartitionFilters, and the pruned slice equals the
    directly-computed slice of the un-staged master table."""
    staged = entrymod._staged_partitioned_master(spark, smoke_dir)
    pruned = staged.filter(F.col("o_year") == 1995)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = next(
        seg
        for seg in plan.split("FileScan")
        if "master_part" in seg.split("\n")[0]
    )
    head = scan.split("\n")[0]
    assert "PartitionFilters" in head and "o_year" in head.split(
        "PartitionFilters"
    )[1].split("]")[0], head
    # pruned read-back == direct computation over the original tables
    direct = entrymod.synthetic_master_table(spark, smoke_dir).filter(
        F.col("o_year") == 1995
    )
    assert pruned.count() == direct.count()


def test_events_stats_profile_n1_group_yields_null_stddev(spark, tmp_path):
    """Cross-engine guard (r5 ADVICE): Spark stddev_samp returns NaN
    on an n=1 group where DuckDB returns NULL — the entry must emit
    NULL for both stddev and corr so a single-row event_type group
    can't break oracle parity."""
    import datetime
    import math

    rows = [
        (1, 100, datetime.datetime(2024, 1, 1, 10), "lonely", 5.0),
        (2, 100, datetime.datetime(2024, 1, 1, 10), "pair", 1.0),
        (3, 101, datetime.datetime(2024, 1, 1, 11), "pair", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: r
        for r in entrymod._q_events_stats_profile(spark, str(tmp_path)).collect()
    }
    assert out["lonely"].stddev_value is None  # NOT NaN
    assert out["lonely"].corr_value_hour is None
    pair = out["pair"]
    assert pair.stddev_value is not None and not math.isnan(pair.stddev_value)


def test_ewma_is_partial_aggregate_no_window(spark, smoke_dir, queries):
    """r8: at a fixed anchor the EWMA must compile to a plain
    hash-aggregate pair (partial + final) with NO WindowExec — that IS
    the scale formulation (an ordered-scan EWMA would serialize per
    key)."""
    plan = _plan(queries["events_time_decay_profile"](spark, smoke_dir))
    assert "WindowExec" not in plan and "WindowGroupLimit" not in plan
    assert "HashAggregate" in plan
    # the 1-row anchor rides a broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bigram_lm_scoring_is_hash_join_no_window(spark, smoke_dir, queries):
    """r8: the bigram-LM scorer must be pure hash machinery — model
    training is two HashAggregates, scoring re-joins the exploded
    bigram stream on a real equi-key (never a cartesian pair loop),
    and no WindowExec anywhere (per-doc avg is a groupBy, not a
    window)."""
    plan = _plan(queries["doc_lm_quality"](spark, smoke_dir))
    assert "WindowExec" not in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop is the broadcast 1-row vocab-count ride-in
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_prefix_contained_window_is_block_partitioned(spark, smoke_dir, queries):
    """r8: the sorted-neighborhood window must be PARTITIONED by the
    text block, not a global single-partition sort (pack_bins'
    WindowExec-warning class)."""
    plan = _plan(queries["doc_prefix_contained"](spark, smoke_dir))
    assert "WindowExec" in plan or "Window" in plan
    assert "substring(text" in plan, "window not keyed by the text block"


def test_serving_pipeline_keeps_partition_pruning(spark, smoke_dir, tmp_path_factory):
    """retrieval_serving_pipeline composes search_ivf_index -> RRF ->
    pool cut -> MMR.  The MMR epilogue materializes its greedy picks
    (bounded, by design), so the FINAL DataFrame is a local relation —
    the scan to pin is the candidate-generation plan: stacking the
    BM25 union, the RRF fusion agg, and the pool cut on top of the
    index search must NOT defeat the cells scan's cell_id
    PartitionFilters.  (search_ivf_index alone is pinned above; this
    pins the COMPOSITION.)  Then the end-to-end entry itself must
    produce the full k picks."""
    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import terms as ltm
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec
    from yelp_review_data_analysis_using_big_data_technologies_spark.plans import llm_queries as lq
    from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

    docs = load_table(spark, smoke_dir, "documents")
    emb = load_table(spark, smoke_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("serve") / "index")
    lvec.build_ivf_index(emb, path, n_cells=8)
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    vec = lvec.search_ivf_index(spark, path, q, k=20, n_probe=2).select(
        F.col("vec_id").alias("doc_id"), "rk"
    )
    lex = ltm.bm25_topk(docs, ("spark", "vector", "merge"), k=20).select(
        "doc_id", "rk"
    )
    pool = (
        ltm.rrf_fuse([lex, vec])
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(12)
    )
    plan = pool._jdf.queryExecution().executedPlan().toString()
    cell_heads = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan")
        if "cell_id" in seg.split("\n")[0]
    ]
    assert cell_heads, "composition lost the persisted-index scan:\n" + plan
    assert any(
        "PartitionFilters" in h
        and "cell_id" in h.split("PartitionFilters")[1].split("]")[0]
        for h in cell_heads
    ), cell_heads

    rows = lq.retrieval_serving_pipeline(spark, smoke_dir).collect()
    assert [r.rk for r in rows] == list(range(1, lq._SERVE_K + 1))
    assert len({r.vec_id for r in rows}) == lq._SERVE_K
