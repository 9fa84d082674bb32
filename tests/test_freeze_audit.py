"""corpus_freeze_audit (r15): stage attribution on a handcrafted
corpus where EVERY stage fires — the sf testdata never trips the
low_quality leg (synthetic text is always mid-quality), so this is
the guard that keeps that anti-join leg from rotting vacuously.
Also pins conservation: every document lands in exactly one stage
bucket (drops + kept partition the table).
"""

import os

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.plans import llm_queries as lq


def _write_docs(spark, base):
    # per-doc DISTINCT quality bases (>= 64 whitespace tokens of sane
    # length) so near-dup LSH only pairs the docs meant to pair
    def words(tag, n=70):
        return " ".join(f"{tag}word{j:03d}" for j in range(n))

    rows = [
        # 1+2: exact duplicates (same text) -> keeper 1, dup 2
        (1, words("aa") + " original one", "en", "web", 100),
        (2, words("aa") + " original one", "en", "web", 100),
        # 3: high-quality unique survivor
        (3, words("bb") + " distinct survivor", "en", "web", 120),
        # 4: LOW-QUALITY: punctuation soup, few tokens
        (4, "!!! ??? ### $$$ %%% ^^^", "en", "web", 24),
        # 20: benchmark carve-out member (doc_id % 20 == 0) that
        # survives dedup -> benchmark_eval drop
        (20, words("cc") + " benchmark held out row", "en", "bench", 110),
        # 7: near-duplicate of 3 (tiny suffix change) -> near_dup
        (7, words("bb") + " distinct survivor!", "en", "web", 121),
        # 9: contaminated: own base plus a 4-token phrase from doc 20
        # (2 shared 3-gram shingles >= min_shared, far below near-dup
        # similarity)
        (9, words("dd") + " benchmark held out row", "en", "web", 115),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "documents.parquet")
    )
    return {r[0] for r in rows}


def test_every_stage_fires_and_partitions_the_corpus(
    spark, tmp_path_factory
):
    base = str(tmp_path_factory.mktemp("audit"))
    ids = _write_docs(spark, base)
    try:
        out = {
            (r["grp"], r["key"]): (r["n_docs"], r["n_tokens"])
            for r in lq.corpus_freeze_audit(spark, base).collect()
        }
    finally:
        release_staging()
    stage = {k[1]: v for k, v in out.items() if k[0] == "stage"}
    # every drop stage fires at least once; exact partition of the table
    for s in ("exact_dup", "near_dup", "contaminated", "low_quality",
              "benchmark_eval"):
        assert stage.get(s, (0,))[0] >= 1, f"stage {s} never fired"
    assert sum(n for n, _t in stage.values()) == len(ids)
    # attribution is first-match: the exact-dup COPY (larger id) drops
    # at exact_dup even though it would also be a near-dup
    assert stage["exact_dup"][0] == 1
    # the low-quality doc survives dedup+decontam and falls at quality
    assert stage["low_quality"][0] == 1
    # overlap rows only aggregate docs already attributed to an
    # earlier stage
    also = {k[1]: v for k, v in out.items() if k[0] == "also"}
    for key, (n, _t) in also.items():
        earlier = key.split("&")[0]
        assert n <= stage[earlier][0], key
