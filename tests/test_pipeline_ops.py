"""Tests for the round-3 training-pipeline operators: connected
components, deterministic splits/sampling, TF-IDF, token chunking,
and int8 embedding quantization."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import clusters as lcc
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import sampling as lsmp
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import terms as ltm
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec


class TestConnectedComponents:
    def test_transitive_chain_collapses_to_one_cluster(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )
        out = {
            r.doc_id: r.cluster_id
            for r in lcc.connected_components(pairs).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    def test_long_path_needs_multiple_iterations(self, spark):
        # Path graph 9-8-...-1: label 1 must walk the full diameter.
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
        )
        out = {
            r.doc_id: r.cluster_id
            for r in lcc.connected_components(pairs).collect()
        }
        assert out == {i: 1 for i in range(1, 10)}

    def test_exhausted_max_iter_raises_instead_of_partial_labels(self, spark):
        # Path graph 22-21-...-1 has diameter 21; the 20-round budget
        # cannot finish.  Pre-guard this returned silently partial
        # labels (node 22 labeled 2, not 1) — now it must surface the
        # unconverged state.
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 22)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            lcc.connected_components(pairs).collect()

    def test_empty_pairs_empty_result(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert lcc.connected_components(pairs).count() == 0


class TestConnectedComponentsAlternating:
    def test_long_chain_converges_in_log_rounds(self, spark):
        # Diameter-31 path: min-propagation needs 31 rounds (and the
        # default budget of 20 raises); star contraction finishes
        # within its default O(log^2 n) budget.
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 32)], "id_a long, id_b long"
        )
        out = {
            r.doc_id: r.cluster_id
            for r in lcc.connected_components_alternating(pairs).collect()
        }
        assert out == {i: 1 for i in range(1, 33)}

    def test_matches_min_label_on_mixed_graph(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 7), (10, 3)],
            "id_a long, id_b long",
        )
        a = {
            (r.doc_id, r.cluster_id)
            for r in lcc.connected_components(pairs).collect()
        }
        b = {
            (r.doc_id, r.cluster_id)
            for r in lcc.connected_components_alternating(pairs).collect()
        }
        assert a == b

    def test_empty_pairs_empty_result(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert lcc.connected_components_alternating(pairs).count() == 0

    def test_unconverged_budget_raises(self, spark, monkeypatch):
        # No small graph needs 30 rounds, so inject a convergence
        # checksum that changes every round.
        class Drifting(lcc.Observation):
            rounds = 0

            @property
            def get(self):
                Drifting.rounds += 1
                return {"n": Drifting.rounds, "x": 0}

        monkeypatch.setattr(lcc, "Observation", Drifting)
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="did not converge"):
            lcc.connected_components_alternating(pairs).collect()
        assert Drifting.rounds == 30


class TestSplitAssign:
    @pytest.fixture(scope="class")
    def ids(self, spark):
        return spark.range(0, 400).withColumnRenamed("id", "doc_id")

    def test_deterministic_and_total(self, ids):
        a = {r.doc_id: r.split for r in lsmp.split_assign(ids).collect()}
        b = {r.doc_id: r.split for r in lsmp.split_assign(ids).collect()}
        assert a == b
        assert set(a.values()) == {"train", "val", "test"}
        assert len(a) == 400

    def test_proportions_roughly_hold(self, ids):
        counts = {
            r.split: r.n
            for r in lsmp.split_assign(ids)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert 0.7 < counts["train"] / 400 < 0.9
        assert counts["val"] / 400 < 0.2 and counts["test"] / 400 < 0.2

    def test_matches_manual_md5(self, spark):
        import hashlib

        one = spark.createDataFrame([(7,)], "doc_id long")
        got = lsmp.split_assign(one).collect()[0].split
        bucket = hashlib.md5(b"7" + lsmp.SPLIT_SALT.encode()).hexdigest()[:8]
        thresholds = lsmp._thresholds()
        expected = next(n for n, t in thresholds if bucket < t)
        assert got == expected


class TestStratifiedSample:
    @pytest.fixture(scope="class")
    def rows(self, spark):
        return spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "de") for i in range(200)],
            "doc_id long, lang string",
        )

    def test_row_kept_iff_under_its_stratum_fraction(self, spark, rows):
        extra = spark.createDataFrame([(500 + i, "xx") for i in range(20)], rows.schema)
        got = {r.doc_id for r in lsmp.stratified_sample(rows.union(extra)).collect()}
        want = {
            i
            for i in range(200)
            if hashlib.md5(f"{i}{lsmp.SAMPLE_SALT}".encode()).hexdigest()[:8]
            < lsmp._frac_hex(lsmp.STRAT_FRACTIONS["en" if i % 2 == 0 else "de"])
        }
        assert got == want  # a stratum absent from STRAT_FRACTIONS drops

    def test_deterministic_subset(self, rows):
        a = sorted(r.doc_id for r in lsmp.stratified_sample(rows).collect())
        b = sorted(r.doc_id for r in lsmp.stratified_sample(rows).collect())
        assert a == b
        assert 0 < len(a) < 200

    def test_sample_draw_independent_of_split_draw(self, rows):
        # Unsalted, sample(f<=0.8) ⊆ train by construction (same hash
        # read against nested thresholds) — val/test strata would
        # silently sample to zero.  Salted per purpose, the two draws
        # are independent: a 0.5 sample must hit val/test rows too.
        sampled = {r.doc_id for r in lsmp.stratified_sample(rows).collect()}
        splits = {
            r.doc_id: r.split for r in lsmp.split_assign(rows).collect()
        }
        assert any(splits[i] != "train" for i in sampled)


class TestTakePerStratum:
    @pytest.fixture(scope="class")
    def rows(self, spark):
        return spark.createDataFrame(
            [(i, "en" if i % 4 != 3 else "de") for i in range(100)]
            + [(100 + i, "zh") for i in range(5)],
            "doc_id long, lang string",
        )

    def test_exact_count_per_stratum(self, rows):
        out = lsmp.take_per_stratum(rows)
        counts = {
            r.lang: r.n
            for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert counts == {"en": lsmp.TAKE_K, "de": lsmp.TAKE_K, "zh": 5}

    def test_small_stratum_returns_all(self, rows):
        # zh has 5 rows; a take of TAKE_K = 20 must return every one, not pad.
        out = lsmp.take_per_stratum(rows)
        assert out.filter("lang = 'zh'").count() == 5
        assert out.filter("lang = 'en'").count() == lsmp.TAKE_K

    def test_deterministic_and_independent_of_sample_draw(self, rows):
        a = sorted(r.doc_id for r in lsmp.take_per_stratum(rows).collect())
        b = sorted(r.doc_id for r in lsmp.take_per_stratum(rows).collect())
        assert a == b
        # The take draw is salted differently from the fractional-sample
        # draw: the 20-row take must not be a subset of a 50% sample's
        # survivors (same-hash nesting would force it for en: 20 < 37).
        sampled = {r.doc_id for r in lsmp.stratified_sample(rows).collect()}
        assert any(i not in sampled for i in a)


class TestProductQuantization:
    def test_exact_reconstruction_on_small_codebook_corpus(self, spark):
        # Corpus built from 2 distinct values per 1-dim subspace (4
        # subspaces) and 16 codes >= 2: KMeans must place a centroid
        # on every distinct point, so reconstruction is exact (mse == 0).
        vecs = [
            (0, [1.0, 0.0, 5.0, 5.0]),
            (1, [1.0, 0.0, -5.0, -5.0]),
            (2, [0.0, 1.0, 5.0, 5.0]),
            (3, [0.0, 1.0, -5.0, -5.0]),
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = lvec.quantize_pq(df).collect()
        assert len(out) == 4
        assert all(r.mse == 0.0 for r in out)
        assert all(len(r.pq_codes) == 4 for r in out)
        # same sub-vector => same code within each subspace
        codes = {r.vec_id: r.pq_codes for r in out}
        assert codes[0][0] == codes[1][0] and codes[2][0] == codes[3][0]
        assert codes[0][2] == codes[2][2] and codes[1][2] == codes[3][2]
        assert codes[0][0] != codes[2][0] and codes[0][2] != codes[1][2]

    def test_mse_beats_variance_on_synthetic_embeddings(self, spark, smoke_dir):
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        out = lvec.quantize_pq(emb)
        avg_mse = out.agg(F.avg("mse").alias("a")).collect()[0].a
        # per-dim variance of the corpus = MSE of the trivial
        # mean-vector quantizer; learned codebooks must do better
        var = (
            emb.select(
                F.posexplode(F.col("embedding").cast("array<double>")).alias(
                    "__d", "__x"
                )
            )
            .groupBy("__d")
            .agg(F.var_pop("__x").alias("v"))
            .agg(F.avg("v").alias("a"))
            .collect()[0]
            .a
        )
        assert 0.0 < avg_mse < var

    def test_indivisible_dim_raises(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="not divisible"):
            lvec.train_pq_codebooks(df)


class TestTfIdf:
    def test_scores_and_ranking(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "apple banana apple"),
                (2, "banana cherry"),
                (3, "cherry date"),
            ],
            "doc_id long, text string",
        )
        out = ltm.tf_idf_top_terms(docs).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        # doc1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
        top1 = by_doc[1][0]
        assert top1.term == "apple" and top1.rk == 1
        assert top1.score == pytest.approx(round(2 * math.log(3.0), 6))
        assert by_doc[1][1].term == "banana"
        assert all(len(v) <= ltm.TOP_TERMS for v in by_doc.values())

    def test_tie_breaks_on_term_text(self, spark):
        docs = spark.createDataFrame(
            [(1, "b a"), (2, "x y")], "doc_id long, text string"
        )
        # In doc1 both terms have tf=1, df=1 -> equal score; 'a' wins rank 1.
        out = {r.rk: r.term for r in ltm.tf_idf_top_terms(docs).filter("doc_id = 1").collect()}
        assert out[1] == "a" and out[2] == "b"


class TestBigramLmNll:
    def test_hand_computed_self_trained(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b a"), (2, "b c"), (3, "solo"), (4, None)],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in ltm.bigram_lm_nll(docs).collect()}
        # unigrams a:2 b:2 c:1 solo:1 -> V=4; every observed bigram has
        # c12=1 and c1=2, so P = (1+1)/(2+4) = 1/3 for all positions
        assert out[1].n_bigrams == 2
        assert out[1].avg_nll == pytest.approx(round(math.log(3.0), 6))
        assert out[2].n_bigrams == 1
        assert out[2].avg_nll == pytest.approx(round(math.log(3.0), 6))
        # <2 tokens and NULL text both yield zero positions, NULL score
        assert out[3].n_bigrams == 0 and out[3].avg_nll is None
        assert out[4].n_bigrams == 0 and out[4].avg_nll is None


class TestTokenChunks:
    def test_chunk_layout(self, spark):
        # 150 tokens: windows start at 0, 48, 96, 144 (stride 48) and
        # hold up to 64 tokens each
        text = " ".join(f"t{i}" for i in range(150))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = sorted(
            ltm.token_chunks(docs).collect(),
            key=lambda r: r.chunk_idx,
        )
        assert [r.chunk_idx for r in out] == [0, 1, 2, 3]
        assert [r.n_chunk_tokens for r in out] == [64, 64, 54, 6]

    def test_every_token_covered_and_hash_content_derived(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
        )
        out = ltm.token_chunks(docs).collect()
        # identical docs -> identical chunk hashes
        h = {}
        for r in out:
            h.setdefault(r.chunk_idx, set()).add(r.chunk_hash)
        assert all(len(v) == 1 for v in h.values())
        covered = sum(r.n_chunk_tokens for r in out if r.doc_id == 1)
        assert covered == 3

    def test_short_doc_single_chunk(self, spark):
        docs = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        out = ltm.token_chunks(docs).collect()
        assert len(out) == 1 and out[0].n_chunk_tokens == 1


class TestQuantizeInt8:
    def test_codes_hit_range_extremes(self, spark):
        emb = spark.createDataFrame(
            [(1, [0.0, 10.0]), (2, [10.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        out = {r.vec_id: r for r in lvec.quantize_int8(emb).collect()}
        import hashlib

        # v1 codes [0, 255], v2 codes [255, 0]
        assert out[1].q_hash == hashlib.md5(b"0,255").hexdigest()
        assert out[2].q_hash == hashlib.md5(b"255,0").hexdigest()
        # dequant exact at the extremes -> zero error
        assert out[1].mse == 0.0 and out[2].mse == 0.0

    def test_constant_dim_codes_zero(self, spark):
        emb = spark.createDataFrame(
            [(1, [5.0, 1.0]), (2, [5.0, 3.0])],
            "vec_id long, embedding array<float>",
        )
        import hashlib

        out = {r.vec_id: r.q_hash for r in lvec.quantize_int8(emb).collect()}
        assert out[1] == hashlib.md5(b"0,0").hexdigest()
        assert out[2] == hashlib.md5(b"0,255").hexdigest()

    def test_mse_small_on_real_embeddings(self, spark, smoke_dir):
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

        emb = load_table(spark, smoke_dir, "embeddings")
        rows = lvec.quantize_int8(emb).collect()
        assert len(rows) == emb.count()
        # int8 min-max quantization: tiny reconstruction error
        assert all(r.mse < 1e-3 for r in rows)


class TestWeightedTake:
    @pytest.fixture(scope="class")
    def rows(self, spark):
        # weights 1..200: inclusion should visibly favor heavy rows
        return spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "doc_id long, n_chars long"
        )

    def test_exactly_k_rows_and_deterministic(self, rows):
        a = sorted(r.doc_id for r in lsmp.weighted_take(rows).collect())
        b = sorted(r.doc_id for r in lsmp.weighted_take(rows).collect())
        assert len(a) == lsmp.WEIGHTED_K and a == b

    def test_weight_bias(self, rows):
        # Priority sampling: heavy half (w > 100) should dominate the
        # 100-row sample of a 1..200 linear weight ramp.
        got = {r.doc_id for r in lsmp.weighted_take(rows).collect()}
        heavy = sum(1 for i in got if i >= 100)
        assert heavy > 50

    def test_non_positive_and_null_weights_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, 5), (2, 0), (3, -1), (4, None), (5, 7)],
            "doc_id long, n_chars long",
        )
        got = sorted(r.doc_id for r in lsmp.weighted_take(df).collect())
        assert got == [1, 5]

    def test_priority_is_engine_portable(self, spark):
        # The whole point of the integer-hash + correctly-rounded
        # arithmetic construction: DuckDB computes the identical key.
        import duckdb

        df = spark.createDataFrame(
            [(i, 3 * i + 1) for i in range(50)], "doc_id long, n_chars long"
        )
        spark_rows = {
            r.doc_id: r.priority
            for r in df.withColumn("priority", lsmp.weighted_priority()).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, n_chars BIGINT)")
        con.executemany(
            "INSERT INTO documents VALUES (?, ?)", [(i, 3 * i + 1) for i in range(50)]
        )
        sql = lsmp.weighted_take_sql()
        duck_rows = {r[0]: r[2] for r in con.execute(sql).fetchall()}
        assert spark_rows == duck_rows  # bit-identical doubles


class TestKeepBestAndChunkDedup:
    def test_keep_best_retains_max_quality_per_cluster(self, spark, smoke_dir):
        from yelp_review_data_analysis_using_big_data_technologies_spark.plans import llm_queries as lq

        kept = lq.corpus_keep_best(spark, smoke_dir).collect()
        docs_n = spark.read.parquet(f"{smoke_dir}/documents.parquet").count()
        # one survivor per cluster; survivors unique; never more than docs
        ids = [r.doc_id for r in kept]
        clusters = [r.cluster_id for r in kept]
        assert len(ids) == len(set(ids)) == len(set(clusters))
        assert 0 < len(ids) <= docs_n
        # every survivor carries its cluster's max quality (tie -> min id):
        # survivors labeled by their own id exist for singleton clusters
        assert all(r.quality >= 0.0 for r in kept)

    def test_chunk_dedup_accounting_consistent(self, spark, smoke_dir):
        from yelp_review_data_analysis_using_big_data_technologies_spark.plans import llm_queries as lq

        rows = lq.doc_chunk_dedup(spark, smoke_dir).collect()
        assert rows, "chunk dedup produced no rows"
        for r in rows:
            assert 0 < r.n_kept <= r.n_chunks or (r.n_kept == 0 and r.n_chunks > 0)
            assert abs(r.dup_ratio - round(1 - r.n_kept / r.n_chunks, 6)) < 1e-9
        # corpus-wide: each distinct chunk hash keeps exactly one copy
        total_kept = sum(r.n_kept for r in rows)
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm import terms as lt
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

        docs = load_table(spark, smoke_dir, "documents")
        distinct_hashes = (
            lt.token_chunks(docs).select("chunk_hash").distinct().count()
        )
        assert total_kept == distinct_hashes


class TestPackBins:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        # irregular token counts (many bins); ids with gaps so the
        # 4096-id bucket boundaries fall mid-stream
        rows = [(i * 1001 + 1, "w " * (((i * 7) % 23 + 1) * 20)) for i in range(60)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_two_level_prefix_equals_naive_window(self, docs):
        from pyspark.sql import Window
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm import packing as lpk
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.text import token_count

        # the ids span many buckets; the two-level offsets must equal
        # the textbook single-window exclusive prefix sum
        got = {
            r.doc_id: (r.offset_tokens, r.bin_id)
            for r in lpk.pack_bins(docs).collect()
        }
        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        naive = {
            r.doc_id: (r.off, r.off // lpk.BUDGET)
            for r in docs.select(
                "doc_id", token_count().cast("bigint").alias("n")
            )
            .withColumn("off", F.coalesce(F.sum("n").over(w), F.lit(0).cast("bigint")))
            .collect()
        }
        assert got == naive

    def test_offsets_accumulate_and_bins_monotone(self, docs):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm import packing as lpk

        rows = sorted(
            lpk.pack_bins(docs).collect(),
            key=lambda r: r.doc_id,
        )
        off = 0
        last_bin = 0
        for r in rows:
            assert r.offset_tokens == off
            assert r.bin_id == off // lpk.BUDGET
            assert r.bin_id >= last_bin
            off += r.n_tokens
            last_bin = r.bin_id


class TestMixtureSample:
    @pytest.fixture()
    def docs(self, spark):
        # Deliberately lopsided corpus: domain 'a' is ~4x 'b' and 'c';
        # uniform targets force real downsampling of 'a'.
        rows = (
            [(i, "a", 40) for i in range(400)]
            + [(1000 + i, "b", 40) for i in range(100)]
            + [(2000 + i, "c", 40) for i in range(100)]
            + [(3000 + i, "junk", 40) for i in range(50)]
        )
        return spark.createDataFrame(
            rows, "doc_id long, domain string, n_tokens long"
        )

    @pytest.fixture()
    def langs(self, spark):
        # Lopsided over the MIXTURE_WEIGHTS languages: en binds (its
        # 0.4 target is the scarcest), de must downsample to 1/4 and
        # es/fr/zh to 3/4; the untargeted 'xx' drops.
        sizes = {"en": 200, "de": 300, "es": 100, "fr": 100, "zh": 100, "xx": 50}
        rows = [
            (1000 * k + i, lang, 40)
            for k, (lang, n) in enumerate(sizes.items())
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, lang string, n_tokens long"
        )

    W = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}

    def test_binding_domain_keeps_everything(self, docs):
        rates = {
            r.domain: r
            for r in lsmp.mixture_rates(
                docs, self.W, domain_col="domain", tokens="n_tokens"
            ).collect()
        }
        # b and c tie as the binding domains (smallest T/w): rate 1.
        assert rates["b"].keep_rate == 1.0 and rates["b"]["__thr"] == "gggggggg"
        assert rates["c"].keep_rate == 1.0
        # a must downsample to ~1/4 of its tokens.
        assert 0.2 < rates["a"].keep_rate < 0.3

    def test_untargeted_domain_dropped_and_deterministic(self, docs):
        s1 = sorted(
            r.doc_id
            for r in lsmp.mixture_sample(docs, self.W, domain_col="domain").collect()
        )
        s2 = sorted(
            r.doc_id
            for r in lsmp.mixture_sample(docs, self.W, domain_col="domain").collect()
        )
        assert s1 == s2
        assert all(i < 3000 for i in s1)  # junk domain gone
        assert set(range(1000, 1100)) <= set(s1)  # binding domain intact

    def test_achieved_shares_near_targets(self, langs):
        rep = {r.domain: r for r in lsmp.mixture_report(langs, "n_tokens").collect()}
        assert set(rep) == set(lsmp.MIXTURE_WEIGHTS)
        for lang, r in rep.items():
            # per-doc hash granularity: shares land within a few
            # points of the targets on 100-300-doc domains
            assert abs(r.achieved_share - lsmp.MIXTURE_WEIGHTS[lang]) < 0.06
        # accounting consistency
        assert rep["en"].kept_docs == 200 and rep["en"].kept_tokens == 8000

    def test_report_matches_duckdb_twin(self, langs):
        import duckdb

        pdf = langs.toPandas()  # noqa: F841  (registered by name below)
        con = duckdb.connect()
        con.register("documents", pdf)
        sql = lsmp.mixture_report_sql("n_tokens")
        oracle = [tuple(r) for r in con.execute(sql).fetchall()]
        got = [tuple(r) for r in lsmp.mixture_report(langs, "n_tokens").collect()]
        assert [tuple(map(str, t)) for t in got] == [
            tuple(map(str, t)) for t in oracle
        ]


class TestCcSelfPairContract:
    def test_alternating_keeps_self_pair_singletons(self, spark):
        """Both CC formulations (and the recursive-CTE oracle) must
        emit a node whose only edge is a self-pair (A, A) as its own
        singleton cluster — the star build filters u != v, so the
        node needs explicit re-emission."""
        pairs = spark.createDataFrame(
            [(7, 7), (1, 2)], "id_a long, id_b long"
        )
        a = {
            (r.doc_id, r.cluster_id)
            for r in lcc.connected_components(pairs).collect()
        }
        b = {
            (r.doc_id, r.cluster_id)
            for r in lcc.connected_components_alternating(pairs).collect()
        }
        assert a == b == {(1, 1), (2, 1), (7, 7)}


class TestEmptyConfigGuards:
    def test_mixture_rejects_empty_weights(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 5)], "doc_id long, domain string, n_tok long"
        )
        with pytest.raises(ValueError, match="at least one domain"):
            lsmp.mixture_rates(df, {}, domain_col="domain", tokens="n_tok")


class TestImportanceWeights:
    def test_target_like_docs_score_higher(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps high"),
                (2, "the quick brown fox runs far"),
                (3, "zzz qqq xxx vvv kkk jjj"),
                (4, "solo"),
                (5, None),
            ],
            "doc_id long, text string",
        )
        target = docs.filter("doc_id IN (1, 2)")
        out = {
            r.doc_id: r
            for r in ltm.importance_weights(docs, target).collect()
        }
        # feature count: n unigrams + (n-1) bigrams
        assert out[1].n_feats == 11 and out[3].n_feats == 11
        assert out[4].n_feats == 1  # unigram only, no bigram
        assert out[5].n_feats == 0 and out[5].avg_logratio is None
        # in-target docs must outscore the gibberish doc
        assert out[1].avg_logratio > out[3].avg_logratio
        assert out[2].avg_logratio > out[3].avg_logratio

    def test_every_doc_survives_left_join(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "")], "doc_id long, text string"
        )
        out = ltm.importance_weights(docs, docs.filter("doc_id = 1"))
        assert out.count() == 2


class TestCorpusShuffle:
    """Deterministic training order (llm/sampling.py::corpus_shuffle,
    r10): seeded md5-rank permutation via the two-level rank."""

    @staticmethod
    def _shuffle(spark, ids):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.sampling import corpus_shuffle

        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        return {
            r.doc_id: (r.position, r.shard)
            for r in corpus_shuffle(df).collect()
        }

    def test_dense_total_and_deterministic(self, spark):
        ids = list(range(100))
        got = self._shuffle(spark, ids)
        assert sorted(p for p, _ in got.values()) == list(range(100))
        assert got == self._shuffle(spark, ids)  # same seed → same order
        # round-robin shards: balanced to within one
        from collections import Counter

        c = Counter(s for _, s in got.values())
        assert set(c) == {0, 1, 2, 3} and max(c.values()) - min(c.values()) == 0

    def test_not_id_order(self, spark):
        ids = list(range(64))
        a = self._shuffle(spark, ids)
        id_order = [i for i, _ in sorted(a.items(), key=lambda kv: kv[1][0])]
        assert id_order != ids, "seeded shuffle must not echo id order"

    def test_two_level_matches_textbook_window(self, spark):
        import hashlib

        ids = [5, 17, 3, 999, 42, 7, 1000000, 0]
        got = self._shuffle(spark, ids)
        want_order = sorted(
            ids, key=lambda i: (hashlib.md5(f"42:{i}".encode()).hexdigest(), i)
        )
        want = {
            i: (p, p % 4) for p, i in enumerate(want_order)
        }
        assert got == want

    def test_null_ids_dropped_and_partition_invariant(self, spark):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.sampling import corpus_shuffle

        rows = [(i,) for i in range(40)] + [(None,)]
        want = None
        for parts in (1, 3, 17):
            df = spark.createDataFrame(rows, "doc_id long").repartition(parts)
            got = sorted(
                (r.doc_id, r.position) for r in corpus_shuffle(df).collect()
            )
            assert len(got) == 40  # NULL dropped
            if want is None:
                want = got
            else:
                assert got == want, f"order differs at {parts} partitions"
