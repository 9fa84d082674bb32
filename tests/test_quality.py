"""Content-hygiene operators (round 4): benchmark decontamination,
Gopher-style repetition metrics, and PII redaction."""

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import decontam as ldec
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import quality as lq


class TestDecontamination:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame(
            [
                # shares 2 trigrams with bench doc 100 ("the quick brown
                # fox jumps" ⊃ "the quick brown", "quick brown fox")
                (1, "the quick brown fox sat down"),
                # shares exactly 1 trigram — below min_shared=2
                (2, "a b the quick brown z z z"),
                # shares nothing
                (3, "completely different words entirely here"),
                # too short to shingle
                (4, "tiny doc"),
            ],
            "doc_id long, text string",
        )

    @pytest.fixture(scope="class")
    def bench(self, spark):
        return spark.createDataFrame(
            [(100, "the quick brown fox jumps over")],
            "doc_id long, text string",
        )

    def test_overlap_threshold(self, corpus, bench):
        got = {
            r.doc_id: r.n_shared
            for r in ldec.contamination_overlap(
                corpus, bench, min_shared=2
            ).collect()
        }
        assert got == {1: 2}

    def test_min_shared_one_admits_single_overlap(self, corpus, bench):
        got = {
            r.doc_id
            for r in ldec.contamination_overlap(
                corpus, bench, min_shared=1
            ).collect()
        }
        assert got == {1, 2}

    def test_decontaminate_removes_flagged_only(self, corpus, bench):
        kept = sorted(
            r.doc_id
            for r in ldec.decontaminate(corpus, bench, min_shared=2).collect()
        )
        assert kept == [2, 3, 4]


class TestDecontaminationPlan:
    def test_benchmark_fingerprint_is_broadcast(self, spark, smoke_dir):
        # The corpus side must never shuffle for the semi-join: the
        # benchmark's distinct-shingle set rides a broadcast exchange.
        docs = spark.read.parquet(f"{smoke_dir}/documents.parquet")
        corpus = docs.filter("doc_id % 20 <> 0")
        bench = docs.filter("doc_id % 20 = 0")
        plan = (
            ldec.contamination_overlap(corpus, bench)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan


class TestRepetitionProfile:
    def test_metrics_exact(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a a a b"),  # top=3/4; trigrams {a a a, a a b} all unique
                (2, "x y x y x y x y"),  # top=4/8; 6 trigrams, 2 distinct
                (3, "p q"),  # too short for trigrams
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_tokens, r.top_token_frac, r.dup_ngram_frac)
            for r in lq.repetition_profile(df).collect()
        }
        assert got[1] == (4, 0.75, 0.0)
        assert got[2] == (8, 0.5, round(1 - 2 / 6, 6))
        assert got[3] == (2, 0.5, 0.0)

    def test_filter_drops_repetitive(self, spark):
        df = spark.createDataFrame(
            [(1, "w " * 50), (2, "fresh words only here now truly")],
            "doc_id long, text string",
        )
        kept = [r.doc_id for r in lq.repetition_filter(df).collect()]
        assert kept == [2]

    def test_filter_keeps_unscored_docs(self, spark):
        """NULL/empty-text docs violate no repetition threshold and
        must survive the filter (previously the pass-list semi-join
        silently deleted everything the profile could not score)."""
        df = spark.createDataFrame(
            [(1, "w " * 50), (2, None), (3, "fresh words only here now truly")],
            "doc_id long, text string",
        )
        kept = sorted(
            r.doc_id for r in lq.repetition_filter(df).collect()
        )
        assert kept == [2, 3]


class TestRedactPii:
    def test_masks_and_counts(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a@b.co ip 10.0.0.1 call 555-123-4567 done"),
                (2, "no pii here"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in lq.redact_pii(df).collect()}
        assert got[1].clean_text == "mail <EMAIL> ip <IP> call <PHONE> done"
        assert got[1].n_redactions == 3
        assert got[2].clean_text == "no pii here"
        assert got[2].n_redactions == 0

    def test_original_text_untouched(self, spark):
        df = spark.createDataFrame([(1, "x a@b.co y")], "doc_id long, text string")
        r = lq.redact_pii(df).collect()[0]
        assert r.text == "x a@b.co y" and r.clean_text == "x <EMAIL> y"


def test_empty_text_scores_instead_of_crashing(spark):
    """Regression: punct_ratio's bare division raised ANSI
    DIVIDE_BY_ZERO on an empty document and aborted the scoring job;
    empty text must score punct 0.0 and a finite quality."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import text as ltx

    df = spark.createDataFrame([("",), ("hi there!",)], "text string")
    rows = df.select(
        ltx.punct_ratio("text").alias("p"),
        ltx.quality_score("text").alias("q"),
    ).collect()
    assert rows[0].p == 0.0 and rows[0].q is not None
    assert 0.0 <= rows[1].p <= 1.0


def test_token_chunks_rejects_gappy_stride(spark):
    import pytest as _pytest

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm import terms as ltm

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="stride"):
        ltm.token_chunks(df, chunk=4, stride=9)
    with _pytest.raises(ValueError, match="stride"):
        ltm.token_chunks_sql(chunk=4, stride=0)


class TestGopherRules:
    def _panel(self, spark, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r.doc_id: r for r in lq.gopher_rules(df).collect()}

    def test_word_count_and_mean_length_rules(self, spark):
        fluent = " ".join(["the quick brown fox and that dog have fun with it"] * 6)
        out = self._panel(spark, [(1, fluent), (2, "too short to pass")])
        assert out[1].n_words == 66 and out[1].gopher_pass
        # 4 words < 50 -> fails on word count alone
        assert out[2].n_words == 4 and not out[2].gopher_pass

    def test_symbol_word_ratios_split_per_rae_a11(self, spark):
        # Rae et al. §A1.1 applies the 0.1 symbol-to-word threshold to
        # the hash symbol and the ellipsis EACH separately.
        # 4 words, one '#', one '…', '....' = one non-overlapping '...'
        out = self._panel(spark, [(1, "a# b… c.... d")])
        assert out[1].hash_word_ratio == pytest.approx(1 / 4)
        assert out[1].ellipsis_word_ratio == pytest.approx(2 / 4)

    def test_hash_and_ellipsis_rules_fail_independently(self, spark):
        base = " ".join(
            ["the quick brown fox and that dog have fun with it"] * 6
        )
        hashy = base + " " + "#" * 8  # 67 words, 8 hashes -> ratio > 0.1
        dotty = base + " " + "... " * 8  # ellipsis ratio > 0.1, no hashes
        out = self._panel(spark, [(1, hashy), (2, dotty), (3, base)])
        assert out[1].hash_word_ratio > 0.1 and not out[1].gopher_pass
        assert out[2].ellipsis_word_ratio > 0.1 and not out[2].gopher_pass
        assert out[3].gopher_pass

    def test_bullet_and_ellipsis_line_fracs(self, spark):
        text = "plain line\n- bullet one\n  • bullet two\ntrails off...\n"
        # 5 lines (trailing \n -> empty last line): 2 bullets, 1 ellipsis
        out = self._panel(spark, [(1, text)])
        assert out[1].bullet_line_frac == pytest.approx(0.4)
        assert out[1].ellipsis_line_frac == pytest.approx(0.2)

    def test_alpha_word_frac_and_stop_hits(self, spark):
        out = self._panel(spark, [(1, "the cat 123 !!! sat"), (2, "1 2 3")])
        assert out[1].alpha_word_frac == pytest.approx(3 / 5)
        assert out[1].stop_hits == 1  # only "the"
        assert out[2].alpha_word_frac == 0.0 and out[2].stop_hits == 0

    def test_null_text_yields_null_metrics_false_flag(self, spark):
        out = self._panel(spark, [(1, None)])
        r = out[1]
        assert r.n_words is None and r.mean_word_len is None
        assert r.gopher_pass is False


class TestC4LineFilter:
    def _run(self, spark, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r.doc_id: r for r in lq.c4_line_filter(df).collect()}

    def test_line_rules(self, spark):
        text = (
            "This line ends with a period and enough words.\n"
            "no terminal punctuation here\n"
            "Too short.\n"
            "This javascript line still ends properly.\n"
            'A quoted ending counts as terminal too."'
        )
        out = self._run(spark, [(1, text)])
        r = out[1]
        # kept: the period line + the quote line; dropped: no-terminal,
        # <3 words, javascript
        assert r.n_kept == 2 and r.n_removed == 3
        assert "javascript" not in r.clean_text
        assert r.clean_text.startswith("This line ends")

    def test_page_rules(self, spark):
        good = "\n".join(
            f"This is sentence number {i} of the page." for i in range(6)
        )
        out = self._run(
            spark,
            [
                (1, good),
                (2, good + "\nSadly lorem ipsum appears right here."),
                (3, good.replace("page.", "page {x}.")),
                (4, "Only one good sentence lives here."),
            ],
        )
        assert out[1].keep_doc
        assert not out[2].keep_doc  # lorem ipsum
        assert not out[3].keep_doc  # curly brace
        assert not out[4].keep_doc  # < 5 sentences

    def test_null_and_all_dropped(self, spark):
        out = self._run(spark, [(1, None), (2, "shrug\nno punct at all")])
        assert out[1].clean_text is None and not out[1].keep_doc
        assert out[2].clean_text is None and out[2].n_kept == 0
        assert out[2].n_removed == 2 and not out[2].keep_doc


class TestPiiAdversarialGuard:
    def test_guard_is_in_the_plan(self, spark):
        """The contains pre-filter must survive into the optimized
        plan — without it Java's backtracking regex is quadratic in
        unbroken class runs (measured 2.6 s/cell at 24k chars;
        scripts/measure_regex_adversarial.py at c84e9fc)."""
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = (
            lq.redact_pii(df)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "contains" in plan.lower()

    def test_guard_preserves_semantics_on_literal_bearing_text(self, spark):
        """Text carrying the literals but matching nothing must pass
        through unchanged with zero counts (the guard may only skip
        work, never change results)."""
        df = spark.createDataFrame(
            [(1, "at @ dot . dash - but no pii shapes")],
            "doc_id long, text string",
        )
        r = lq.redact_pii(df).collect()[0]
        assert r.clean_text == "at @ dot . dash - but no pii shapes"
        assert r.n_redactions == 0

    def test_adversarial_run_is_bounded(self, spark):
        """A 256k unbroken class run (no @/digit shapes) must redact
        in sub-second time, not the ~quadratic minutes the unguarded
        email pattern costs."""
        import time

        df = spark.createDataFrame(
            [(1, "a" * 256_000)], "doc_id long, text string"
        )
        t0 = time.perf_counter()
        out = lq.redact_pii(df).collect()[0]
        assert time.perf_counter() - t0 < 30
        assert out.n_redactions == 0
