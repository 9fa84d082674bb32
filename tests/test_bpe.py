"""BPE pair-merge training (r15, llm/bpe.py): greedy non-overlap
merging, deterministic tie-breaks, and merge-feeds-next-round
semantics on handcrafted corpora.
"""

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.bpe import MERGES, bpe_merge_steps
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging


def _steps(df):
    """Merge-table rows by step; a round that finds no adjacent pair
    left ends the table early."""
    try:
        return {r["step"]: r for r in bpe_merge_steps(df).collect()}
    finally:
        release_staging()


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def test_greedy_non_overlap_merges_every_other_occurrence(spark):
    """'a a a a a' under top pair (a, a): matches at 4 adjacent
    positions but only the 1st and 3rd merge (left-to-right
    non-overlap) -> stream becomes ['a a', 'a a', 'a']."""
    r = _steps(_docs(spark, ["a a a a a"]))[1]
    assert (r["sym_a"], r["sym_b"]) == ("a", "a")
    assert r["pair_count"] == 4
    assert r["n_merged"] == 2
    assert r["n_symbols"] == 3
    assert r["vocab_size"] == 2  # {'a a', 'a'}


def test_tie_break_is_lexicographic(spark):
    """Equal counts -> the lexicographically smallest pair wins, so
    the merge table is deterministic."""
    out = _steps(_docs(spark, ["z q", "z q", "b c", "b c"]))
    r = out[1]
    assert (r["sym_a"], r["sym_b"]) == ("b", "c")
    assert r["pair_count"] == 2 and r["n_merged"] == 2
    # the tied runner-up wins the next round; then no pair is left
    assert (out[2]["sym_a"], out[2]["sym_b"]) == ("z", "q")
    assert sorted(out) == [1, 2]


def test_merges_compound_across_rounds(spark):
    """Round 2 counts pairs over the MERGED stream: after ('x', 'y')
    merges, the pair ('x y', 'z') exists and wins round 2 — the
    compounding that makes BPE build multi-word units."""
    out = _steps(_docs(spark, ["x y z"] * 3 + ["k"]))
    assert (out[1]["sym_a"], out[1]["sym_b"]) == ("x", "y")
    assert (out[2]["sym_a"], out[2]["sym_b"]) == ("x y", "z")
    # after both merges each 'x y z' doc is ONE symbol
    assert out[2]["n_symbols"] == 4
    assert out[2]["vocab_size"] == 2  # {'x y z', 'k'}


def test_null_and_empty_docs_are_inert(spark):
    """NULL text is filtered; a 1-token doc contributes no pairs but
    still counts in the stream totals."""
    df = spark.createDataFrame(
        [(0, "p q p q"), (1, None), (2, "solo")],
        "doc_id long, text string",
    )
    r = _steps(df)[1]
    assert (r["sym_a"], r["sym_b"]) == ("p", "q")
    assert r["pair_count"] == 2
    assert r["n_symbols"] == 3  # 'p q', 'p q', 'solo'


def test_encode_stats_agree_with_merge_trajectory(spark):
    """The apply path must land exactly where the trainer says the
    stream ends: sum of per-doc n_after == the last step's n_symbols,
    and n_before totals the raw token stream."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.bpe import bpe_encode_stats

    # every round still finds a pair: each merge absorbs the next letter
    texts = ["a b c d e f g h"] * 4 + ["m n", "x y"]
    docs = _docs(spark, texts)
    try:
        steps = bpe_merge_steps(docs).collect()
        enc = bpe_encode_stats(docs).collect()
    finally:
        release_staging()
    assert [r["step"] for r in steps] == list(range(1, MERGES + 1))
    assert sum(r["n_after"] for r in enc) == steps[-1]["n_symbols"]
    assert sum(r["n_before"] for r in enc) == sum(
        len(t.split()) for t in texts
    )
    for r in enc:
        assert 0 < r["n_after"] <= r["n_before"]
