"""Unit tests for the LLM-pipeline operators (llm/*): semantic traps
(hash salting, banding recall, decode determinism) on tiny in-memory
frames, plus an ANN-recall check against the bruteforce baseline on
the sf0.001 fixture.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import dedup as ldd
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import multimodal as lmm
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import text as ltx
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec

#: Typed metadata carried beside every media blob.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("format", T.StringType()),  # png, wav, mp4, ...
        T.StructField("source_uri", T.StringType()),
    ]
)

#: Canonical multimodal record the multimodal operators read: id +
#: opaque payload + metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    far = "completely different words about databases and distributed query engines"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1
            (3, near),  # near dup of 1 (one word differs)
            (4, far),
        ],
        "doc_id long, text string",
    )


class TestExactDedup:
    def test_collapses_exact_dups_keeps_min_id(self, docs):
        out = ldd.exact_dedup(docs).orderBy("doc_id").collect()
        assert [r.doc_id for r in out] == [1, 3, 4]
        assert all(len(r.content_hash) == 64 for r in out)

    def test_hash_is_content_derived(self, spark):
        df = spark.createDataFrame(
            [(1, "same"), (2, "same"), (3, "diff")], "doc_id long, text string"
        )
        hashes = {
            r.doc_id: r.h
            for r in df.select("doc_id", ldd.content_hash().alias("h")).collect()
        }
        assert hashes[1] == hashes[2] != hashes[3]


class TestNearDupBanded:
    def test_finds_near_pair_not_far(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in ldd.near_dup_pairs_banded(docs).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical
        assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup
        assert not any(4 in p for p in pairs)  # dissimilar doc never pairs

    def test_signature_entries_are_independent(self, docs):
        sig = (
            docs.filter("doc_id = 1")
            .select(
                ltx.minhash_signature_from(
                    ltx.shingles_from_tokens(ltx.tokens("text"), 3)
                ).alias("g")
            )
            .collect()[0]
            .g
        )
        # Salting regression guard: all 6 hash families must differ.
        assert len(set(sig)) == 6


class TestSimhash:
    def test_equal_for_identical_tokens(self, docs):
        vals = {
            r.doc_id: r.sh
            for r in docs.select(
                "doc_id", ldd.simhash_words("text")[0].alias("sh")
            ).collect()
        }
        assert vals[1] == vals[2]
        assert vals[1] != vals[4]
        assert all(0 <= v < 2**16 for v in vals.values())


class TestSimhashNearDup:
    def test_word_array_shape(self, docs):
        rows = docs.select(
            "doc_id", ldd.simhash_words("text").alias("w")
        ).collect()
        for r in rows:
            assert len(r.w) == ldd.SIMHASH_WORDS
            assert all(0 <= v < 2**16 for v in r.w)

    def test_exact_dups_hamming_zero(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in ldd.simhash_near_dup_pairs(docs).collect()
        }
        assert pairs[(1, 2)] == 0
        assert not any(4 in p for p in pairs)

    def test_banded_recall_equals_bruteforce(self, spark):
        # 12 docs from a shared vocabulary with small perturbations:
        # every pair within Hamming<=3 of the full 64-bit hash must be
        # found by the banded join (pigeonhole guarantee), verified
        # against an all-pairs bruteforce on the same hash words.
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        texts = [(i, base + f" extra{i % 4}") for i in range(12)]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        words = {
            r.doc_id: r.w
            for r in df.select(
                "doc_id", ldd.simhash_words("text").alias("w")
            ).collect()
        }

        def hamming(a, b):
            return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

        expect = {
            (i, j)
            for i in words
            for j in words
            if i < j and hamming(words[i], words[j]) <= 3
        }
        got = {
            (r.id_a, r.id_b) for r in ldd.simhash_near_dup_pairs(df).collect()
        }
        assert got == expect
        assert expect  # the fixture must actually produce near-dup pairs


class TestDedupAgainstCorpus:
    def test_exact_near_and_fresh_delta_rows(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        corpus = spark.createDataFrame(
            [(1, base), (2, "completely different corpus text entirely")],
            "doc_id long, text string",
        )
        delta = spark.createDataFrame(
            [
                (10, base),  # exact dup of corpus doc 1
                (11, base + " tail"),  # near dup of corpus doc 1
                (12, "unrelated fresh document about spark plans"),
            ],
            "doc_id long, text string",
        )
        got = sorted(
            r.doc_id for r in ldd.dedup_against_corpus(corpus, delta).collect()
        )
        assert got == [12]

    def test_delta_self_dups_are_not_dropped(self, spark):
        # delta-vs-corpus only: two identical NEW docs both survive
        # (intra-delta dedup is exact_dedup/near_dup_removal composed
        # upstream, not this operator's contract)
        corpus = spark.createDataFrame(
            [(1, "some old corpus document text here")],
            "doc_id long, text string",
        )
        delta = spark.createDataFrame(
            [(10, "brand new text never seen before today"),
             (11, "brand new text never seen before today")],
            "doc_id long, text string",
        )
        got = sorted(
            r.doc_id for r in ldd.dedup_against_corpus(corpus, delta).collect()
        )
        assert got == [10, 11]


class TestMlNearDup:
    def test_approx_join_matches_banded(self, docs):
        got = {
            (r.id_a, r.id_b)
            for r in ldd.near_dup_pairs_ml(docs).collect()
        }
        assert (1, 2) in got and (1, 3) in got
        assert not any(4 in p for p in got)


class TestCosineNearDupBanded:
    def test_derive_n_planes_scales_with_corpus(self):
        # constant expected bucket size: 2^planes tracks N/target
        assert lvec.derive_n_planes(500) == 4
        assert lvec.derive_n_planes(2**15) == 5
        assert lvec.derive_n_planes(2**20) == 10
        assert lvec.derive_n_planes(2**40) == 24  # cap

    def test_plane_pool_prefix_matches_legacy_planes(self):
        assert lvec.PLANE_POOL[: lvec.N_PLANES] == lvec.PLANES

    def test_headline_production_dials_match_static_twin(self):
        """The in-window vec_cosine_near_dup runs PRODUCTION dials
        (derived planes) against a STATIC 4-plane SQL twin.  That is
        only sound while derive_n_planes resolves to 4 at every
        fixture scale — embeddings counts are 500/500/2000 (sf0.001/
        0.01/0.1), and the derivation stays at the 4-plane floor up to
        16384 vectors.  If this fails, the fixtures outgrew the
        regime: re-pin cosine_near_dup_sql or point the driver entry
        at vec_cosine_near_dup_pinned."""
        for n in (500, 2000, 16_384):
            assert lvec.derive_n_planes(n) == 4, n
        assert lvec.derive_n_planes(16_385) == 5  # the edge is real

    def test_banding_shrinks_candidates_vs_fixed_coarse_buckets(self, spark, smoke_dir):
        # With more planes per band the within-bucket candidate sets
        # must shrink: compare candidate counts at r=2 (4 buckets/band,
        # the degenerate coarse shape) vs r=6 (64 buckets/band).
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")

        def n_candidates(n_planes: int) -> int:
            bands = [lvec.PLANE_POOL[b * n_planes : (b + 1) * n_planes] for b in range(3)]
            base = emb.select(
                F.col("vec_id").alias("__id"),
                F.col("embedding").cast("array<double>").alias("__v"),
            )
            keys = base.select(
                "__id",
                F.posexplode(
                    F.array(*[lvec.sign_bucket("__v", p) for p in bands])
                ).alias("__band", "__bucket"),
            )
            return (
                keys.alias("a")
                .join(keys.alias("b"), on=["__band", "__bucket"])
                .filter(F.col("a.__id") < F.col("b.__id"))
                .select("a.__id", "b.__id")
                .dropDuplicates()
                .count()
            )

        assert n_candidates(6) < n_candidates(2)

    def test_banded_pairs_only_emits_verified_cosine(self, spark, smoke_dir):
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        out = lvec.cosine_near_dup_pairs(emb).collect()
        assert all(r.cos_sim >= 0.4 and r.id_a < r.id_b for r in out)

    def test_derived_planes_path_at_second_corpus_size(self, spark, smoke_dir):
        # The production path derives planes-per-band from corpus size
        # (the driver entry pins 3x4 only for the static SQL twin);
        # exercise the derivation end-to-end at a second, smaller
        # corpus and pin that the verified-pair contract still holds.
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        small = emb.limit(40)
        out = lvec.cosine_near_dup_pairs(small).collect()
        assert all(r.cos_sim >= 0.4 and r.id_a < r.id_b for r in out)
        # the derivation itself must shrink with the corpus
        assert lvec.derive_n_planes(40) <= lvec.derive_n_planes(500)


class TestStagingRelease:
    @staticmethod
    def _persistent_ids(spark):
        m = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
        return {m.apply(i)._1() for i in range(m.size())}

    def test_llm_queries_leave_no_cached_relations(self, spark, smoke_dir):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging

        release_staging()  # drain whatever earlier tests staged
        # Earlier tests' localCheckpoint blocks (e.g. the CC rounds)
        # are removed lazily by the ContextCleaner, so asserting a
        # globally EMPTY persistent-RDD map is order/GC-flaky; the
        # property under test is that THESE operators add nothing that
        # release_staging doesn't remove — snapshot and diff.
        before = self._persistent_ids(spark)
        docs = spark.read.parquet(f"{smoke_dir}/documents.parquet")
        ldd.near_dup_pairs_banded(docs).collect()
        ldd.ngram_jaccard_pairs(docs).collect()
        # near_dup_pairs_banded stages 2 on a small (sub-parallelism)
        # input (the spread source cache + the shingle base);
        # ngram_jaccard_pairs stages 3 (spread source + raw postings +
        # the r16 FILTERED-postings relation — see the staging note in
        # llm/dedup.py).  On inputs that already scan wide, spread is
        # a no-op and each operator stages one fewer.
        assert release_staging() == 5
        assert self._persistent_ids(spark) <= before

    def test_release_is_idempotent(self):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging

        # drain whatever earlier tests staged on this thread first —
        # the property under test is that the SECOND call releases
        # nothing, independent of suite order/tier selection (r16:
        # the slow-tier split removed the neighbor that used to drain)
        release_staging()
        assert release_staging() == 0

    def test_scoped_release_leaves_other_scope_cached(self, spark):
        """r9 advice: one query's release must not unpersist another
        concurrent query's staging — scope A's relations survive scope
        B's release (the maintenance-loop-beside-batch-query hazard)."""
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import (
            release_staging,
            stage,
            staging_scope,
        )

        release_staging()
        with staging_scope("query-a"):
            a = stage(spark.range(10))
        with staging_scope("query-b"):
            stage(spark.range(20))
            # releasing INSIDE scope b drains only b's entries
            assert release_staging() == 1
        assert a.storageLevel.useMemory  # a's cache survived b's release
        assert release_staging(tag="query-a") == 1
        assert release_staging(tag="query-a") == 0

    def test_thread_scoped_release_does_not_cross_threads(self, spark):
        """Default scoping is per-thread: a release on one thread
        leaves another thread's staging cached."""
        import threading

        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import (
            release_all_staging,
            release_staging,
            stage,
        )

        release_staging()
        staged_here = stage(spark.range(7))
        other_count: list[int] = []

        def other_thread():
            stage(spark.range(3))
            # this thread's release sees ONLY its own entry
            other_count.append(release_staging())

        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
        assert other_count == [1]
        assert staged_here.storageLevel.useMemory
        assert release_staging() == 1
        assert release_all_staging() == 0

    def test_spread_widens_narrow_scans_only(self, spark, smoke_dir):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import (
            release_staging,
            spread,
        )

        release_staging()
        docs = spark.read.parquet(f"{smoke_dir}/documents.parquet")
        assert docs.rdd.getNumPartitions() < 32
        wide = spread(docs.select("doc_id", "text"))
        # widened to cluster parallelism, registered for release
        assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert wide.count() == docs.count()
        assert release_staging() == 1
        # already-parallel input passes through untouched (no-op at scale)
        already = docs.repartition(spark.sparkContext.defaultParallelism)
        assert spread(already) is already
        assert release_staging() == 0


class TestTextAnalysis:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "a b  c d")], "id long, text string")
        row = df.select(
            ltx.token_count().alias("ws"),
            ltx.bpe_token_count().alias("bpe"),
        ).collect()[0]
        assert row.ws == 4 and row.bpe == 4

    def test_bpe_counts_punct_runs(self, spark):
        df = spark.createDataFrame([(1, "don't stop!! ok?")], "id long, text string")
        # don | ' | t | stop | !! | ok | ? → 7
        assert df.select(ltx.bpe_token_count().alias("n")).collect()[0].n == 7

    def test_lang_id_real_sentences(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog sat in the garden"),
                (2, "der hund und die katze sind nicht da"),
                (3, "le chat et la souris sont dans le jardin"),
                (4, "xyzzy plugh abracadabra"),
            ],
            "id long, text string",
        )
        out = {r.id: r.l for r in df.select("id", ltx.lang_id().alias("l")).collect()}
        assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}

    def test_quality_score_bounds_and_ordering(self, spark):
        df = spark.createDataFrame(
            [(1, "ok"), (2, " ".join(["word"] * 100))], "id long, text string"
        )
        out = {r.id: r.q for r in df.select("id", ltx.quality_score().alias("q")).collect()}
        assert 0.0 <= out[1] <= 1.0 and 0.0 <= out[2] <= 1.0
        assert out[2] > out[1]  # long clean text beats a 2-char doc


class TestVectors:
    def test_bruteforce_exact_neighbors(self, spark):
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),
                (1, [0.9, 0.1]),
                (2, [0.0, 1.0]),
                (3, [-1.0, 0.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        q = emb.filter("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = lvec.top_k_bruteforce(emb, q, k=3).orderBy("rk").collect()
        assert [r.vec_id for r in out] == [0, 1, 2]  # self, near, orthogonal
        assert out[0].cos_sim == 1.0

    def test_ann_recall_vs_bruteforce(self, spark, smoke_dir):
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        q = emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_bruteforce(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_ann_signlsh(emb, q).collect()
        }
        # Scores must agree wherever both strategies surface a pair …
        for pair in set(exact) & set(approx):
            assert abs(exact[pair] - approx[pair]) < 1e-9
        # … and self-match always survives (query is its own bucket).
        assert all((i, i) in approx for i in range(3))
        assert all(approx[(i, i)] == 1.0 for i in range(3))

    def test_ivf_recall_and_score_agreement(self, spark, smoke_dir):
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        q = emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_bruteforce(emb, q, k=5).collect()
        }
        ivf = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_ann_ivf(emb, q).collect()
        }
        for pair in set(exact) & set(ivf):
            assert abs(exact[pair] - ivf[pair]) < 1e-9
        # self-match must survive: the query's own cell is always probed
        # first (cosine(q, centroid_of(q)) is maximal for its own cell)
        assert all((i, i) in ivf and ivf[(i, i)] == 1.0 for i in range(3))

    def test_ivf_probe_all_cells_recovers_bruteforce(self, spark):
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),
                (1, [0.9, 0.1]),
                (2, [0.0, 1.0]),
                (3, [-1.0, 0.0]),
                (4, [0.1, 0.9]),
            ],
            "vec_id long, embedding array<float>",
        )
        q = emb.filter("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = lvec.top_k_bruteforce(emb, q, k=5).orderBy("rk").collect()
        # IVF_PROBE (2) probes every cell of a two-cell quantizer
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell_id int, __c array<double>"
        )
        full_probe = lvec.top_k_ann_ivf(emb, q, centroids=cents).orderBy("rk").collect()
        assert [r.vec_id for r in exact] == [r.vec_id for r in full_probe]

    def test_kmeans_centroids_plug_into_ivf(self, spark, smoke_dir):
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        cents = lvec.train_centroids_kmeans(emb)
        assert cents.count() == lvec.IVF_CELLS
        q = emb.filter("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = lvec.top_k_ann_ivf(emb, q, centroids=cents).collect()
        assert len(out) == lvec.TOP_K
        assert out[0].vec_id == 0 and out[0].cos_sim == 1.0

    def test_kmeans_ivf_recall_vs_bruteforce(self, spark, smoke_dir):
        """Pins the KMeans-IVF quality floor: at the entry's dials
        (IVF_PROBE of IVF_CELLS cells probed), recall@5 against exact
        bruteforce must stay ≥ 0.6, and
        surfaced scores must be exact (IVF only prunes candidates, it
        never approximates the cosine)."""
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        q = emb.filter("vec_id < 5").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_bruteforce(emb, q, k=5).collect()
        }
        cents = lvec.train_centroids_kmeans(emb)
        approx = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_ann_ivf(emb, q, centroids=cents).collect()
        }
        hits = set(exact) & set(approx)
        recall = len(hits) / len(exact)
        assert recall >= 0.6, f"recall@5 {recall:.2f} < 0.6"
        for pair in hits:
            assert abs(exact[pair] - approx[pair]) < 1e-9
        # self-match always survives: the query's own cell is probed first
        assert all((i, i) in approx and approx[(i, i)] == 1.0 for i in range(5))

    def test_ivfpq_exhaustive_recovers_bruteforce(self, spark):
        """With every cell probed and the rerank budget covering the
        whole corpus, IVF-PQ must reproduce bruteforce EXACTLY — the
        PQ approximation only orders candidates; the final ranking is
        the exact re-ranked cosine."""
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0, 0.0, 0.0]),
                (1, [0.9, 0.1, 0.0, 0.0]),
                (2, [0.0, 1.0, 0.0, 0.0]),
                (3, [-1.0, 0.0, 0.0, 0.0]),
                (4, [0.1, 0.9, 0.0, 0.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        q = emb.filter("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = lvec.top_k_bruteforce(emb, q, k=5).orderBy("rk").collect()
        # IVF_PROBE (2) probes every cell of a two-cell quantizer
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "cell_id int, __c array<double>",
        )
        full = (
            lvec.top_k_ann_ivfpq(emb, q, rerank=5, centroids=cents)
            .orderBy("rk")
            .collect()
        )
        assert [r.vec_id for r in exact] == [r.vec_id for r in full]
        for e, a in zip(exact, full):
            assert abs(e.cos_sim - a.cos_sim) < 1e-9

    def test_ivfpq_recall_vs_bruteforce(self, spark, smoke_dir):
        """Pins the IVF-PQ quality floor at production-ish dials (half
        the cells probed, 8× rerank budget): recall@5 ≥ 0.6 and every
        surfaced score is exact (the re-rank reads raw vectors)."""
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        q = emb.filter("vec_id < 5").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_bruteforce(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id): r.cos_sim
            for r in lvec.top_k_ann_ivfpq(emb, q, n_probe=4, rerank=8).collect()
        }
        hits = set(exact) & set(approx)
        recall = len(hits) / len(exact)
        assert recall >= 0.6, f"recall@5 {recall:.2f} < 0.6"
        for pair in hits:
            assert abs(exact[pair] - approx[pair]) < 1e-9

    def test_centroid_distance_self_consistency(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
            "vec_id long, embedding array<float>, label int",
        )
        out = {r.vec_id: r.cos_to_centroid for r in lvec.centroid_distances(emb).collect()}
        # label-0 centroid == its members; singleton cluster likewise
        assert out[0] == 1.0 and out[1] == 1.0 and out[2] == 1.0


class TestMultimodal:
    def test_fake_decode_is_deterministic_and_typed(self, spark):
        media = spark.createDataFrame(
            [(1, bytearray(b"abc"), ("image", "png", "s://x"))],
            MEDIA_SCHEMA,
        )
        out = lmm.extract_features(media).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.n_bytes, r.width, r.height, r.n_frames) == (3, 4, 1, 4)

    def test_documents_adapter_schema(self, spark, smoke_dir):
        docs = spark.read.parquet(f"{smoke_dir}/documents.parquet")
        media = lmm.documents_as_media(docs)
        assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
        feats = lmm.extract_features(media).limit(5).collect()
        assert all(f.n_bytes > 0 for f in feats)


class TestNgramJaccard:
    def test_exact_jaccard_values_and_threshold(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely different words entirely here now"),
            ],
            "doc_id long, text string",
        )
        out = {
            (r.id_a, r.id_b): r.jaccard
            for r in ldd.ngram_jaccard_pairs(docs).collect()
        }
        # docs 1/2: 9 tokens -> 7 shingles each, 6 shared -> J = 6/8
        assert out == {(1, 2): 0.75}

    def test_max_df_cuts_boilerplate_shingles(self, spark):
        # every doc shares a boilerplate prefix; in more than MAX_DF
        # docs the prefix shingles drop out and no pair survives
        rows = [(i, f"standard header text then more unique{i} tail{i} words{i}")
                for i in range(ldd.MAX_DF + 1)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        none = ldd.ngram_jaccard_pairs(docs).collect()
        assert none == []
        # below the cut the shared prefix alone pairs two of them
        some = ldd.ngram_jaccard_pairs(
            spark.createDataFrame(rows[:2], "doc_id long, text string")
        ).collect()
        assert len(some) > 0


    def test_exact_dup_found_and_short_docs_absent(self, spark):
        docs = spark.createDataFrame(
            [
                ("a", "x y z p q r"),
                ("b", "x y z p q r"),  # exact dup of a
                ("c", "x y z p q r s"),  # superset
                ("tiny", "x y"),  # below shingle width
                ("empty", ""),
                ("nulltext", None),
            ],
            "doc_id string, text string",
        )
        out = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in ldd.ngram_jaccard_pairs(docs).collect()
        )
        # only the exact pair reaches J = 1.0 (the superset keeps 4 of
        # its 5 shingles in common); docs with fewer than three tokens
        # (or no text) have no shingles and never pair
        assert out == [("a", "b", 1.0), ("a", "c", 0.8), ("b", "c", 0.8)]


class TestFrameSampling:
    def test_even_coverage_and_bounds(self, spark):
        # payload of 100 bytes -> fake n_frames = 100 % 16 + 1 = 5
        media = spark.createDataFrame(
            [(1, bytearray(b"x" * 100), ("video", "fake", "s://v"))],
            MEDIA_SCHEMA,
        )
        out = lmm.sample_frames(media).collect()
        frames = sorted(r.frame_idx for r in out)
        assert frames == [0, 1, 2, 3]  # floor(i*5/4) for i in 0..3
        assert all(0 <= r.frame_idx < r.n_frames for r in out)

    def test_more_samples_than_frames_dedupes(self, spark):
        # 17 bytes -> n_frames = 2; 4 samples must collapse to 2 rows
        media = spark.createDataFrame(
            [(1, bytearray(b"x" * 17), ("video", "fake", "s://v"))],
            MEDIA_SCHEMA,
        )
        out = lmm.sample_frames(media).collect()
        assert sorted(r.frame_idx for r in out) == [0, 1]


class TestLineDedup:
    def _run(self, spark, rows):
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import line_dedup

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r.doc_id: r for r in line_dedup(df).collect()}

    def test_keep_first_across_corpus(self, spark):
        boiler = "accept all cookies to continue reading this site"
        out = self._run(
            spark,
            [
                (1, f"intro one\n{boiler}\nbody one"),
                (2, f"{boiler}\nbody two"),
                (3, f"body three\n{boiler}"),
            ],
        )
        # doc 1 holds the first (doc_id, pos) occurrence -> keeps it
        assert boiler in out[1].clean_text and out[1].n_removed == 0
        assert boiler not in out[2].clean_text and out[2].n_removed == 1
        assert out[2].clean_text == "body two"
        assert out[3].clean_text == "body three" and out[3].n_removed == 1

    def test_short_lines_always_survive(self, spark):
        out = self._run(
            spark,
            [(1, "ok\n\nshort"), (2, "ok\n\nshort")],
        )
        # every line is under min_len -> nothing dedups, order intact
        assert out[1].clean_text == "ok\n\nshort"
        assert out[2].clean_text == "ok\n\nshort"
        assert out[1].n_removed == out[2].n_removed == 0

    def test_reassembly_preserves_order(self, spark):
        long_a = "a" * 30
        long_b = "b" * 30
        out = self._run(spark, [(1, f"{long_a}\nmid\n{long_b}")])
        assert out[1].clean_text == f"{long_a}\nmid\n{long_b}"

    def test_null_and_fully_deduped_docs(self, spark):
        dup = "x" * 40
        out = self._run(spark, [(1, dup), (2, dup), (3, None)])
        assert out[1].clean_text == dup
        # doc 2's only line was a duplicate -> nothing left
        assert out[2].clean_text is None and out[2].n_kept == 0
        assert out[2].n_removed == 1
        assert out[3].clean_text is None and out[3].n_removed == 0


def test_line_dedup_drop_hashes_arm(spark):
    """Cross-corpus arm: hashes passed via drop_hashes drop
    unconditionally — a new batch cannot re-elect a copy of a line
    the corpus already holds, even as the batch's first instance."""
    from pyspark.sql import functions as F

    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.dedup import line_dedup

    seen_line = "x" * 40
    seen = spark.createDataFrame([(seen_line,)], "line string").select(
        F.sha2(F.col("line"), 256).alias("h")
    )
    docs = spark.createDataFrame(
        [(1, f"{seen_line}\nkeep this fresh long line right here")],
        "doc_id long, text string",
    )
    out = line_dedup(docs, drop_hashes=seen).collect()[0]
    assert out.clean_text == "keep this fresh long line right here"
    assert out.n_removed == 1 and out.n_kept == 1


class TestMediaIntegrityAudit:
    """Magic-byte format audit + exact payload dedup (r10)."""

    def _audit(self, spark, rows):
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        return {
            r.media_id: r for r in lmm.media_integrity_audit(media).collect()
        }

    def test_detection_matches_and_mismatches(self, spark):
        rows = [
            (1, bytearray(b"\x89PNG\r\n\x1a\n" + b"x" * 16), ("image", "png", "s://a")),
            (2, bytearray(b"GIF89a" + b"y" * 8), ("image", "png", "s://b")),   # mislabeled
            (3, bytearray(b"\xff\xd8\xff\xe0 body"), ("image", "jpeg", "s://c")),
            (4, bytearray(b"RIFF\x00\x00\x00\x00WAVEdata"), ("audio", "wav", "s://d")),
            (5, bytearray(b"plain text bytes"), ("image", "png", "s://e")),   # unknown
            (6, bytearray(b"BM looks like a bitmap"), ("image", "bmp", "s://f")),
            (7, bytearray(b""), ("image", "png", "s://g")),
            (8, None, ("image", "png", "s://h")),
        ]
        got = self._audit(spark, rows)
        want = {
            1: ("png", True), 2: ("gif", False), 3: ("jpeg", True),
            4: ("wav", True), 5: ("unknown", False),
            6: ("bmp", True),  # prefix CLASSIFIER by contract
            7: ("empty", False), 8: ("missing", False),
        }
        assert {
            k: (v.detected_format, v.format_matches) for k, v in got.items()
        } == want
        assert got[8].n_bytes == 0 and got[8].n_copies == 1
        assert got[8].is_canonical  # NULL payloads never group

    def test_exact_payload_dedup_keeps_min_id(self, spark):
        png = bytearray(b"\x89PNG\r\n\x1a\n" + b"same bytes")
        rows = [
            (10, png, ("image", "png", "s://a")),
            (3, png, ("image", "png", "s://b")),      # same payload, min id
            (7, bytearray(b"GIF89a other"), ("image", "gif", "s://c")),
            (11, None, ("image", "png", "s://d")),
            (12, None, ("image", "png", "s://e")),    # NULLs never group
        ]
        got = self._audit(spark, rows)
        assert got[3].n_copies == 2 and got[3].is_canonical
        assert got[10].n_copies == 2 and not got[10].is_canonical
        assert got[7].n_copies == 1 and got[7].is_canonical
        assert got[11].is_canonical and got[12].is_canonical

    def test_mixed_media_fixture_twin_agrees(self, spark, smoke_dir):
        import duckdb as _duck

        got = sorted(
            tuple(r)
            for r in lmm.media_integrity_audit(
                lmm.documents_as_mixed_media(
                    spark.read.parquet(f"{smoke_dir}/documents.parquet")
                )
            ).collect()
        )
        con = _duck.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{smoke_dir}/documents.parquet')"
        )
        want = sorted(
            tuple(r) for r in con.execute(lmm.mixed_media_audit_sql()).fetchall()
        )
        assert got == want


class TestRecallProfile:
    def test_recall_monotone_in_n_probe_and_exhaustive_is_exact(
        self, spark, smoke_dir
    ):
        """The recall@k-vs-n_probe curve (r11 entry
        vec_ann_recall_profile): recall must be monotone nondecreasing
        in n_probe (a larger probe set is a superset of candidates,
        and any true top-k member is beaten by at most k-1 corpus rows
        under the deterministic total order — so it survives every
        pool that contains it), and n_probe = n_cells probes every
        cell, which must reproduce bruteforce exactly (recall 1.0)."""
        from yelp_review_data_analysis_using_big_data_technologies_spark.plans.llm_queries import (
            vec_ann_recall_profile,
        )

        rows = vec_ann_recall_profile(spark, smoke_dir).collect()
        ivf = sorted(
            ((r.dial, r.recall) for r in rows if r.method == "ivf_n_probe")
        )
        assert [d for d, _ in ivf] == [1, 2, 4, 8]
        recalls = [rc for _, rc in ivf]
        assert recalls == sorted(recalls), recalls  # monotone floor
        assert recalls[-1] == 1.0  # exhaustive probe == bruteforce
        assert all(0.0 <= rc <= 1.0 for rc in recalls)
        # LSH mirror dial: an n-plane bucket refines every prefix
        # bucket, so candidates shrink and recall is monotone
        # NONINCREASING in plane count
        lsh = sorted(
            (r.dial, r.recall) for r in rows if r.method == "signlsh_n_planes"
        )
        assert [d for d, _ in lsh] == [4, 6, 8]
        lsh_recalls = [rc for _, rc in lsh]
        assert lsh_recalls == sorted(lsh_recalls, reverse=True), lsh_recalls
        assert all(0.0 <= rc <= 1.0 for rc in lsh_recalls)
        assert all(r.truth == rows[0].truth for r in rows)  # one shared truth

    def test_filtered_topk_prefilter_semantics(self, spark, smoke_dir):
        """Filtered search is PRE-filter: every hit satisfies the
        predicate, always k rows per query (never a post-filtered
        short list), and equals bruteforce over the filtered corpus."""
        from pyspark.sql import functions as F

        from yelp_review_data_analysis_using_big_data_technologies_spark.plans.llm_queries import (
            _FILTER_LABELS,
            vec_filtered_topk,
        )

        rows = vec_filtered_topk(spark, smoke_dir).collect()
        assert len(rows) == lvec.N_QUERIES * lvec.TOP_K
        emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")
        allowed = {
            r.vec_id
            for r in emb.where(F.col("label").isin(*_FILTER_LABELS)).collect()
        }
        assert all(r.vec_id in allowed for r in rows)
