"""The persisted IVF index lifecycle shared by both cell codecs (raw
vectors, PQ codes): the frozen state a build returns is the state
``read_index_params`` reads back, the stored metadata contract holds
whichever of the two a merge is given, a merge handed the build's
params reads no frozen state from disk, a NULL query id follows one
rule per searcher whatever the probe ladder's length, and no call
launches more Spark jobs than the two separate copies of the
lifecycle did before they were folded into one."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging

CODECS = {
    "raw": (
        lambda emb, path, n_cells=4: lvec.build_ivf_index(
            emb, path, n_cells=n_cells, meta_cols=["label"]
        ),
        lvec.add_to_ivf_index,
        lvec.search_ivf_index,
        lvec.search_ivf_index_filtered,
    ),
    "pq": (
        lambda emb, path, n_cells=4: lvec.build_ivfpq_index(
            emb, path, n_cells=n_cells, meta_cols=["label"]
        ),
        lvec.add_to_ivfpq_index,
        lvec.search_ivfpq_index,
        lvec.search_ivfpq_index_filtered,
    ),
}


def _emb(spark, lo, hi):
    # the filtered searchers' FILTERED_ANN_PRED (label = 3 AND vec_id
    # % 7 = 0) passes the multiples of 7: 7 of the first 48 vectors
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % 7 == 0, 3).otherwise(F.col("id") % 3).cast("int").alias("label"),
        F.array(
            *[F.sin(F.col("id") * (j + 1) + j).cast("float") for j in range(8)]
        ).alias("embedding"),
    )


def _queries(spark):
    return _emb(spark, 0, 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@contextmanager
def _job_group(spark, name):
    """Run the block under job group ``name`` and yield the list that
    holds, once the block ends, the ids of the jobs it submitted."""
    sc = spark.sparkContext
    jobs = []
    sc.setJobGroup(name, name)
    try:
        yield jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(name))


@pytest.mark.parametrize("codec", sorted(CODECS))
def test_build_params_are_the_stored_contract(spark, tmp_path, codec):
    """The params a build returns equal what ``read_index_params``
    reads back, and a delta missing a stored metadata column is
    rejected whichever of the two (or neither) the merge is given."""
    build, add = CODECS[codec][:2]
    path = str(tmp_path / codec)
    built = build(_emb(spark, 0, 48), path)
    read = lvec.read_index_params(spark, path)
    assert built == read
    assert (built.by_sub is None) == (codec == "raw")
    delta = _emb(spark, 48, 56).drop("label")
    for params in (built, read, None):
        with pytest.raises(ValueError, match="metadata columns"):
            add(delta, path, params=params)


@pytest.mark.parametrize("codec", sorted(CODECS))
def test_merge_with_build_params_derives_nothing(
    spark, tmp_path, monkeypatch, codec
):
    """A merge handed the params its build returned runs no job to
    read the frozen state back (the jobs ``read_index_params``
    launches are counted in their own group); without params the same
    merge does read them."""
    build, add = CODECS[codec][:2]
    path = str(tmp_path / codec)
    built = build(_emb(spark, 0, 48), path)
    sc = spark.sparkContext
    read = lvec.read_index_params
    derived = []

    def counted(*args, **kwargs):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        with _job_group(spark, f"derive-{codec}-{len(derived)}") as jobs:
            out = read(*args, **kwargs)
        derived.append(len(jobs))
        sc.setJobGroup(outer, outer)
        return out

    monkeypatch.setattr(lvec, "read_index_params", counted)
    with _job_group(spark, f"merge-built-{codec}"):
        add(_emb(spark, 48, 56), path, params=built)
    assert derived == []
    with _job_group(spark, f"merge-none-{codec}"):
        add(_emb(spark, 56, 64), path)
    assert len(derived) == 1 and derived[0] > 0


@pytest.mark.parametrize("codec", sorted(CODECS))
def test_null_query_id_rule_is_independent_of_the_ladder(spark, tmp_path, codec):
    """Unfiltered search ranks a NULL-id query like any other; filtered
    search drops it, both when the ladder has several rungs
    (``IVF_PROBE`` < 4 cells) and when it has one (``IVF_PROBE`` >= 2
    cells)."""
    build, _add, search, filtered = CODECS[codec]
    path = str(tmp_path / codec)
    params = build(_emb(spark, 0, 48), path)
    q = _queries(spark)
    q = q.unionByName(
        q.limit(1).select(F.lit(None).cast("long").alias("query_id"), "query_vec")
    )
    ids = {0, 1, 2, 3}

    def qids(df):
        return {r["query_id"] for r in df.select("query_id").distinct().collect()}

    assert qids(search(spark, path, q, k=3, n_probe=2, params=params)) == ids | {None}
    assert len(lvec.probe_ladder(lvec.IVF_PROBE, 4)) > 1
    assert qids(filtered(spark, path, q, params=params)) == ids
    one_rung = str(tmp_path / f"{codec}_2cells")
    params = build(_emb(spark, 0, 48), one_rung, n_cells=2)
    assert lvec.probe_ladder(lvec.IVF_PROBE, 2) == [2]
    assert qids(filtered(spark, one_rung, q, params=params)) == ids


#: Jobs each call launched on this fixture before the raw and PQ
#: lifecycles were folded into one (measured at local[4] with the
#: session's 4 shuffle partitions): the fold must not add any.
BEFORE_FOLD_JOBS = {
    ("raw", "search"): 3,
    ("raw", "filtered"): 11,
    ("raw", "add"): 12,
    ("pq", "search"): 4,
    ("pq", "filtered"): 12,
    ("pq", "add"): 13,
}


@pytest.mark.parametrize("codec", sorted(CODECS))
def test_calls_with_params_launch_no_more_jobs(spark, tmp_path, codec):
    build, add, search, filtered = CODECS[codec]
    path = str(tmp_path / codec)
    params = build(_emb(spark, 0, 48), path)
    q = _queries(spark)
    calls = {
        "search": lambda: search(spark, path, q, k=3, n_probe=2, params=params),
        "filtered": lambda: filtered(spark, path, q, params=params),
        "add": lambda: add(_emb(spark, 48, 64), path, params=params),
    }
    for call, fn in calls.items():
        release_staging()  # a cached relation of an earlier call would save jobs
        with _job_group(spark, f"jobs-{codec}-{call}") as jobs:
            fn()
        assert len(jobs) <= BEFORE_FOLD_JOBS[codec, call], (call, len(jobs))
