"""PPJoin prefix filtering (llm/dedup.py::ngram_jaccard_pairs_prefix).

The whole contract is EXACT EQUIVALENCE with the unfiltered
ngram_jaccard_pairs: prefix filtering may only shrink the CANDIDATE
set, never the result set.  Pins: randomized corpora (small vocab →
heavy shingle sharing), threshold edges (t where ceil boundaries bite,
t=1.0 exact-dup regime), max_df on/off, and the candidate-volume
reduction itself (the reason the operator exists).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _pairs(df, fn, **kw):
    out = sorted(
        (r.id_a, r.id_b, r.jaccard) for r in fn(df, **kw).collect()
    )
    release_staging()
    return out


def _rand_corpus(seed, n_docs, vocab_size, max_len):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(vocab_size)]
    rows = []
    for i in range(n_docs):
        n = rng.randint(0, max_len)
        rows.append((f"d{i}", " ".join(rng.choice(vocab) for _ in range(n))))
    # salt in real near-dups: clone a few docs with light edits
    for j in range(0, n_docs, 7):
        base = rows[j][1]
        rows.append((f"c{j}", base + " extra tail token"))
    return rows


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8, 1.0])
def test_equivalence_randomized(spark, threshold):
    rows = _rand_corpus(seed=int(threshold * 100), n_docs=30, vocab_size=10, max_len=25)
    df = _docs(spark, rows)
    want = _pairs(df, ngram_jaccard_pairs, threshold=threshold)
    got = _pairs(df, ngram_jaccard_pairs_prefix, threshold=threshold)
    assert got == want


def test_equivalence_no_max_df(spark):
    rows = _rand_corpus(seed=9, n_docs=20, vocab_size=6, max_len=15)
    df = _docs(spark, rows)
    want = _pairs(df, ngram_jaccard_pairs, threshold=0.4, max_df=None)
    got = _pairs(df, ngram_jaccard_pairs_prefix, threshold=0.4, max_df=None)
    assert got == want


def test_equivalence_exact_dups_and_short_docs(spark):
    rows = [
        ("a", "x y z p q r"),
        ("b", "x y z p q r"),          # exact dup of a
        ("c", "x y z p q r s"),        # superset
        ("tiny", "x y"),               # below shingle width → absent
        ("empty", ""),
        ("nulltext", None),
    ]
    df = _docs(spark, rows)
    for t in (0.5, 1.0):
        want = _pairs(df, ngram_jaccard_pairs, threshold=t)
        got = _pairs(df, ngram_jaccard_pairs_prefix, threshold=t)
        assert got == want, f"diverged at t={t}"
    # sanity: the exact pair is found at t=1.0
    got = _pairs(df, ngram_jaccard_pairs_prefix, threshold=1.0)
    assert ("a", "b", 1.0) in got


def test_prefix_actually_prunes(spark):
    """The candidate relation the prefix join feeds must be smaller
    than the full posting self-join's — otherwise the operator is
    overhead with no cut.  Count both candidate sets directly."""
    rows = _rand_corpus(seed=3, n_docs=40, vocab_size=8, max_len=30)
    df = _docs(spark, rows)
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.text import shingled
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import spread, stage

    sh = stage(
        shingled(spread(df.select("doc_id", "text")), ["doc_id"], "text", 3, out="__sh0")
        .select(F.col("doc_id").alias("__id"), F.explode(F.array_distinct("__sh0")).alias("__s"))
    )
    full_cands = (
        sh.alias("a")
        .join(sh.alias("b"), on="__s")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .count()
    )
    t = 0.5
    from pyspark.sql import Window

    dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    ranked = sh.join(dfreq, on="__s").select(
        "__id",
        "__s",
        F.count(F.lit(1)).over(Window.partitionBy("__id")).alias("__sz"),
        F.row_number()
        .over(Window.partitionBy("__id").orderBy("__df", "__s"))
        .alias("__rn"),
    )
    prefix = ranked.filter(
        F.col("__rn") <= F.col("__sz") - F.ceil(F.lit(t) * F.col("__sz")) + 1
    )
    prefix_cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="__s")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .count()
    )
    release_staging()
    assert prefix_cands < full_cands, (prefix_cands, full_cands)


def test_profile_predictions_are_exact(spark):
    """The one-pass candidate profile must predict EXACTLY the
    pre-dedup candidate counts both self-joins would generate — the
    dispatcher's decisions are only as honest as the predictor."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
        _jaccard_postings,
        ngram_jaccard_candidate_profile,
    )

    rows = _rand_corpus(seed=3, n_docs=40, vocab_size=8, max_len=30)
    df = _docs(spark, rows)
    t = 0.5
    sh = _jaccard_postings(df, "doc_id", "text", 3)
    prof = ngram_jaccard_candidate_profile(sh, t, max_df=None)
    full_cands = (
        sh.alias("a")
        .join(sh.alias("b"), on="__s")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .count()
    )
    from pyspark.sql import Window

    dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    ranked = sh.join(dfreq, on="__s").select(
        "__id",
        "__s",
        F.count(F.lit(1)).over(Window.partitionBy("__id")).alias("__sz"),
        F.row_number()
        .over(Window.partitionBy("__id").orderBy("__df", "__s"))
        .alias("__rn"),
    )
    prefix_cands = (
        ranked.filter(
            F.col("__rn") <= F.col("__sz") - F.ceil(F.lit(t) * F.col("__sz")) + 1
        )
        .alias("a")
        .join(
            ranked.filter(
                F.col("__rn")
                <= F.col("__sz") - F.ceil(F.lit(t) * F.col("__sz")) + 1
            ).alias("b"),
            on="__s",
        )
        .filter(F.col("a.__id") < F.col("b.__id"))
        .count()
    )
    release_staging()
    assert prof == {
        "candidates_full": full_cands,
        "candidates_prefix": prefix_cands,
    }


def test_auto_picks_prefix_on_shared_heavy_corpus(spark):
    """Regime pin, favorable shape: a tiny vocabulary makes shingles
    heavily shared (big Σ df²) while prefixes keep only the rare tail
    → the profile must predict a > 2× cut and the auto dispatcher must
    return the (identical) pair set via the prefix plan."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
        _jaccard_postings,
        ngram_jaccard_candidate_profile,
        ngram_jaccard_pairs_auto,
    )

    rows = _rand_corpus(seed=11, n_docs=60, vocab_size=6, max_len=30)
    df = _docs(spark, rows)
    sh = _jaccard_postings(df, "doc_id", "text", 3)
    prof = ngram_jaccard_candidate_profile(sh, 0.5, max_df=1000)
    release_staging()
    assert prof["candidates_full"] > 2 * prof["candidates_prefix"], prof
    want = _pairs(df, ngram_jaccard_pairs, threshold=0.5)
    got = _pairs(df, ngram_jaccard_pairs_auto, threshold=0.5)
    assert got == want


def test_auto_picks_base_on_rare_shingle_corpus(spark):
    """Regime pin, unfavorable shape: a huge vocabulary makes almost
    every shingle unique (Σ df² ≈ result pairs), so the prefix plan's
    extra passes cannot pay → the profile must predict < 2× and the
    auto dispatcher must return the (identical) pair set via the base
    plan."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
        _jaccard_postings,
        ngram_jaccard_candidate_profile,
        ngram_jaccard_pairs_auto,
    )

    rows = _rand_corpus(seed=13, n_docs=40, vocab_size=5000, max_len=30)
    df = _docs(spark, rows)
    sh = _jaccard_postings(df, "doc_id", "text", 3)
    prof = ngram_jaccard_candidate_profile(sh, 0.3, max_df=1000)
    release_staging()
    assert prof["candidates_full"] <= 2 * prof["candidates_prefix"], prof
    want = _pairs(df, ngram_jaccard_pairs, threshold=0.3)
    got = _pairs(df, ngram_jaccard_pairs_auto, threshold=0.3)
    assert got == want


def test_auto_mitigates_viral_shingle_under_the_df_cap(spark):
    """The viral-shingle cliff
    (scripts/measure_viral_shingle.py at c84e9fc): one shingle in ~90%
    of docs, with df UNDER max_df, floods the base join with df²
    candidates from that single posting list (measured 489,530 of which
    559 survive prefix filtering at 1000 docs).  The
    profile must see that mass and pick the prefix plan — where the
    globally-commonest shingle enters almost no rarest-first prefix —
    and the result must equal the base plan's."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import (
        _jaccard_postings,
        ngram_jaccard_candidate_profile,
        ngram_jaccard_pairs_auto,
    )

    rows = []
    for i in range(120):
        body = " ".join(f"u{i}x{j}" for j in range(12))
        text = f"viral phrase tokens {body}" if i % 10 else body
        rows.append((f"d{i}", text))
    # planted real near-dups
    for j in range(0, 120, 13):
        rows.append((f"c{j}", rows[j][1] + " tailedit"))
    df = _docs(spark, rows)
    sh = _jaccard_postings(df, "doc_id", "text", 3)
    prof = ngram_jaccard_candidate_profile(sh, 0.5, max_df=1000)
    release_staging()
    # the single viral posting list dominates: ~108²/2 candidates
    assert prof["candidates_full"] > 2 * prof["candidates_prefix"], prof
    assert prof["candidates_full"] > 4000, prof
    want = _pairs(df, ngram_jaccard_pairs, threshold=0.5)
    got = _pairs(df, ngram_jaccard_pairs_auto, threshold=0.5)
    assert got == want
    # over the cap the cliff's other side: the viral shingle drops out
    prof_capped = ngram_jaccard_candidate_profile(
        _jaccard_postings(df, "doc_id", "text", 3), 0.5, max_df=64
    )
    release_staging()
    assert prof_capped["candidates_full"] < 2000, prof_capped


def test_partition_invariance(spark):
    rows = _rand_corpus(seed=5, n_docs=25, vocab_size=9, max_len=20)
    want = None
    for parts in (1, 3, 17):
        df = _docs(spark, rows).repartition(parts)
        got = _pairs(df, ngram_jaccard_pairs_prefix, threshold=0.5)
        if want is None:
            want = got
        else:
            assert got == want, f"pairs differ at {parts} partitions"
