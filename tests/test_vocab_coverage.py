"""Vocabulary-coverage audit (llm/terms.py::vocab_coverage): counts,
tie order, cumulative coverage, and the NULL/truncation contracts on
hand-computable corpora.
"""

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.terms import VOCAB_TOP, vocab_coverage


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_vocab_counts_and_coverage(spark):
    docs = _docs(spark, ["a a b", "a b c", "b"])
    # counts: a=3, b=3, c=1; total 7; tie a<b
    rows = vocab_coverage(docs).collect()
    assert [(r.token, r.n, r.rk) for r in rows] == [
        ("a", 3, 1),
        ("b", 3, 2),
        ("c", 1, 3),
    ]
    assert rows[0].share == round(3 / 7, 6)
    assert rows[1].cum_cov == round(6 / 7, 6)
    assert rows[2].cum_cov == 1.0


def test_vocab_top_v_cuts_and_oov(spark):
    # 60 distinct tokens, t00 repeated 41 times: 100 tokens in all
    words = [f"t{i:02d}" for i in range(60)] + ["t00"] * 40
    rows = vocab_coverage(_docs(spark, [" ".join(words)])).collect()
    assert VOCAB_TOP == 50
    assert [r.token for r in rows] == [f"t{i:02d}" for i in range(50)]
    assert rows[-1].cum_cov == 0.9  # OOV rate 1/10 at v=50


def test_vocab_null_rows_drop(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (None, "zzz zzz"), (2, None)], "doc_id long, text string"
    )
    rows = vocab_coverage(docs).collect()
    assert sorted(r.token for r in rows) == ["a", "b"]


def test_vocab_v_larger_than_vocabulary(spark):
    rows = vocab_coverage(_docs(spark, ["only two"])).collect()
    assert len(rows) == 2
    assert rows[-1].cum_cov == 1.0

