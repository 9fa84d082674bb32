"""Corpus-level term statistics: TF-IDF keyword extraction and
fixed-stride token chunking (SURVEY.md §2.12 "text analysis").

Two document-preparation operators every training/retrieval pipeline
runs between cleaning and training:

- :func:`tf_idf_top_terms` — the classic two-aggregate TF-IDF:
  per-(doc, term) term frequency, per-term document frequency, score
  = tf · ln(N / df), top-k terms per document.  Expressed as explode
  → two hash aggregates → key join → per-doc window; the corpus size
  N enters the plan as a broadcast one-row aggregate, NOT a
  driver-side ``count()``, so the whole thing stays one lazy plan.
- :func:`token_chunks` — split each document's token stream into
  fixed-size overlapping windows (``chunk`` tokens every ``stride``)
  — the context-window packing step before tokenizer/embedding
  batching.  Start offsets come from ``sequence``, the windows from
  ``slice`` — all codegen'd array ops, one explode, no UDFs.

Scale notes: TF-IDF's shuffles key on ``term`` (df, vocabulary-
bounded) and ``doc_id`` (top-k window, corpus-partitioned) — both
well-distributed; the df relation is vocabulary-sized and the join
onto the tf relation broadcasts when small.  Chunking is a stateless
per-row explode: output rows ≈ n_tokens / stride per doc, no
shuffle at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import text as ltx
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage

_TOK_SQL = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"

#: Okapi BM25 term-saturation ``k1`` and length-normalization ``b``
#: (the Lucene defaults) of :func:`bm25_topk` and its DuckDB twin.
BM25_K1 = 1.2
BM25_B = 0.75

#: The fixed lexical query over the synthetic vocabulary (df-diverse)
#: of the pseudo-relevance-feedback loop (:func:`prf_expansion_terms`,
#: :func:`bm25_prf_topk` and their twins): its BM25 top-``PRF_FEEDBACK_K``
#: feedback docs nominate ``PRF_EXPAND_M`` expansion terms.
BM25_QUERY = ("spark", "vector", "merge")
PRF_FEEDBACK_K = 5
PRF_EXPAND_M = 3

#: Smoothing constant of :func:`rrf_fuse` (Cormack et al.'s 60).
RRF_K = 60

#: Terms kept per document by :func:`tf_idf_top_terms` and its twin.
TOP_TERMS = 3

#: Sparse TF-IDF cosine pairs (:func:`tfidf_cosine_pairs` and its
#: twin): terms in more documents than ``TFIDF_MAX_DF`` are dropped,
#: and pairs are kept at rounded cosine >= ``TFIDF_MIN_SIM``.
TFIDF_MAX_DF = 64
TFIDF_MIN_SIM = 0.25

#: Token window width and stride of :func:`token_chunks` and its twin
#: (stride <= width, so every token lands in a chunk).
CHUNK = 64
STRIDE = 48

#: Vocabulary entries :func:`vocab_coverage` (and its twin) reports.
VOCAB_TOP = 50


def tf_idf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-``TOP_TERMS`` TF-IDF terms per document: ``(doc_id, term, tf,
    score, rk)`` with ``score = tf * ln(n_docs / df)`` rounded to 6
    places and ties broken by term text."""
    toks = docs.select("doc_id", F.explode(ltx.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(df_, on="term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_TERMS)
        .select("doc_id", "term", "tf", "score", "rk")
    )


def tfidf_cosine_pairs(docs: DataFrame) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs of ``(doc_id, text)`` →
    ``(id_a, id_b, n_shared_terms, sim)``: the lexical near-dup /
    related-document signal that complements dense-embedding cosine
    (vectors.py) and set-overlap Jaccard (dedup.py) — weighted by
    term rarity instead of raw overlap.

    Same conventions as :func:`tf_idf_top_terms` (whitespace terms,
    ``idf = ln(N/df)`` with N = corpus row count), plus:

    * **df-cap**: terms in more than ``TFIDF_MAX_DF`` documents are dropped
      BEFORE weighting — the ngram-family defense (a stopword's
      posting list would otherwise quadratically dominate the
      self-join), and standard IR practice since common terms carry
      ~zero idf anyway.  Weights are L2-normalized over the KEPT
      term space, so ``sim`` is an exact cosine there.
    * zero-norm docs (no kept terms, or every kept term has idf 0)
      cannot pair and are excluded.

    Plan shape: explode → two hash aggregates (term-keyed df,
    doc-keyed norm) → posting-list self-join keyed on ``term``
    (per-term fan-out bounded by ``TFIDF_MAX_DF``) → pair aggregate.
    Every shuffle is keyed and bounded; no all-pairs stage.  ``sim``
    is rounded to 6 dp and thresholded (``TFIDF_MIN_SIM``) on the
    ROUNDED value so both engines classify boundary pairs identically.
    """
    sid = F.col("doc_id")
    toks = docs.where(sid.isNotNull()).select(
        sid, F.explode(ltx.tokens("text")).alias("term")
    )
    # stage(): tf feeds the df cut AND the weighting; wn (below)
    # feeds both self-join sides — without the persists the corpus
    # explode+aggregate would re-execute once per reference (the
    # winnow_pairs lesson; at warehouse scale these are staging
    # tables, not implicit caches)
    tf = stage(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfr = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= TFIDF_MAX_DF)
    )
    total = docs.agg(F.count(F.lit(1)).alias("__n"))
    wt = (
        tf.join(dfr, on="term")
        .crossJoin(F.broadcast(total))
        .select(
            sid,
            F.col("term"),
            (F.col("tf") * F.log(F.col("__n") / F.col("df"))).alias("__w"),
        )
    )
    norm = (
        wt.groupBy("doc_id")
        .agg(F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__nrm"))
        .where(F.col("__nrm") > 0)
    )
    wn = stage(
        wt.join(norm, on="doc_id").select(
            sid, F.col("term"), (F.col("__w") / F.col("__nrm")).alias("__wn")
        )
    )
    a, b = wn.alias("a"), wn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.round(F.sum(F.col("a.__wn") * F.col("b.__wn")), 6).alias(
                "sim"
            ),
        )
        .where(F.col("sim") >= TFIDF_MIN_SIM)
        .orderBy("id_a", "id_b")
    )


def tfidf_cosine_pairs_sql() -> str:
    """DuckDB twin of :func:`tfidf_cosine_pairs` — same df-cap, same
    idf, same kept-space L2 normalization, threshold on the rounded
    sim."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
  WHERE doc_id IS NOT NULL
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfr AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
  HAVING count(*) <= {TFIDF_MAX_DF}
), total AS (
  SELECT count(*) AS n FROM documents
), wt AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln(total.n * 1.0 / dfr.df) AS w
  FROM tf JOIN dfr USING (term) CROSS JOIN total
), nrm AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wt GROUP BY doc_id
  HAVING sqrt(sum(w * w)) > 0
), wn AS (
  SELECT wt.doc_id, wt.term, wt.w / nrm.nrm AS wn
  FROM wt JOIN nrm USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared_terms,
       round(sum(a.wn * b.wn), 6) AS sim
FROM wn a JOIN wn b ON a.term = b.term AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING round(sum(a.wn * b.wn), 6) >= {TFIDF_MIN_SIM}
ORDER BY id_a, id_b
"""


def tf_idf_top_terms_sql() -> str:
    """DuckDB twin of :func:`tf_idf_top_terms` — same formula, same
    tie-break."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), total AS (
  SELECT count(*) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(total.n * 1.0 / df.df), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN total
)
SELECT doc_id, term, tf, score, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC
  ) AS rk FROM scored
) WHERE rk <= {TOP_TERMS}
"""


def bigram_lm_nll(docs: DataFrame) -> DataFrame:
    """CCNet-style statistical quality score: each ``(doc_id, text)``
    document's average negative log-likelihood under an
    add-one-smoothed BIGRAM language model trained on the corpus
    itself.
    Boilerplate and fluent text score LOW (predictable n-grams),
    lorem-gibberish and mojibake score HIGH — the filter signal the
    CCNet pipeline thresholds on (public reference: Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data", arXiv:1911.00359 — there with a 5-gram KenLM; the
    bigram model is the same signal expressible as pure relational
    algebra).

    ``P(w2 | w1) = (C(w1, w2) + 1) / (C(w1) + V)`` with V = distinct
    unigram count; per doc: ``avg_nll = -mean(ln P)`` over its bigram
    positions, rounded to 6 places.  Documents with fewer than two
    tokens return ``n_bigrams = 0`` and NULL ``avg_nll``.

    Plan shape (100-TB framing): the model is two hash aggregates
    whose keys are vocabulary-bounded (unigrams) and
    vocabulary²-bounded in principle but Zipf-truncated in practice
    (observed bigrams only); scoring re-joins the corpus's exploded
    bigram stream on the (w1, w2) key.  That key is Zipf-SKEWED —
    "of the" alone carries ~0.1 % of all positions — so at scale the
    join leans on AQE's skew-join split (enabled in ``get_spark``);
    when the model relation fits the broadcast threshold (most
    vocabularies: observed bigrams ≪ corpus size) Spark broadcasts it
    and the skew question disappears entirely, which is what the
    local plan does.  V rides in as a broadcast one-row aggregate,
    never a collect.

    One-tokenize discipline: the tokenized relation is STAGED
    (``llm/staging.stage`` — callers release after materializing,
    same lifecycle as the LSH staging) because several consumers
    branch from it; the bigram model is derived FROM the document
    bigram stream rather than re-tokenizing the corpus a second
    time."""
    bigrams = F.explode(
        F.expr(
            "transform(slice(tk, 1, size(tk) - 1), "
            "(w, i) -> struct(w AS w1, tk[i + 1] AS w2))"
        )
    )
    # the tokenized relation feeds uni AND the bigram stream, and the
    # bigram stream feeds the model AND scoring — stage both
    doc_tk = stage(docs.select("doc_id", ltx.tokens("text").alias("tk")))
    doc_bi = stage(
        doc_tk.select("doc_id", bigrams.alias("b")).select("doc_id", "b.w1", "b.w2")
    )
    big = doc_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        doc_tk.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("__v"))
    scored = (
        doc_bi.join(big, on=["w1", "w2"], how="left")
        .join(uni, on=F.col("w1") == F.col("w"), how="left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("__v"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_nll",
        )
    )


def bigram_lm_nll_sql() -> str:
    """DuckDB twin of :func:`bigram_lm_nll` —
    same tokenizer class, same add-one smoothing, same rounding."""
    return f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
), uni AS (
  SELECT w, count(*) AS c1 FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w
), vocab AS (
  SELECT count(*) AS v FROM uni
), bi AS (
  SELECT tk.doc_id, tk.tk[i.i] AS w1, tk.tk[i.i + 1] AS w2
  FROM tk, LATERAL unnest(generate_series(1, len(tk.tk) - 1)) AS i(i)
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
), scored AS (
  SELECT bi.doc_id,
         -ln((COALESCE(big.c12, 0) + 1) * 1.0
             / (COALESCE(uni.c1, 0) + vocab.v)) AS nll
  FROM bi
  LEFT JOIN big USING (w1, w2)
  LEFT JOIN uni ON bi.w1 = uni.w
  CROSS JOIN vocab
), agg AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
  FROM scored GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams, agg.avg_nll
FROM documents t LEFT JOIN agg ON t.doc_id = agg.doc_id
"""


def token_chunks(docs: DataFrame) -> DataFrame:
    """Fixed-stride token windows per document: one output row per
    chunk with ``(doc_id, chunk_idx, n_chunk_tokens, chunk_hash)``.
    Chunk ``i`` covers tokens ``[i*STRIDE, i*STRIDE + CHUNK)``; the
    final chunk may be short; every token lands in ≥1 chunk.  The
    hash is ``md5`` of the space-joined window — a portable content
    key for chunk-level dedup downstream."""
    # NULL text → no chunks: without the filter Spark emits one row
    # per NULL doc hashing the EMPTY string (concat_ws over a null
    # array) while the SQL twin emits NULL hashes — and neither is a
    # chunk of anything.
    staged = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", ltx.tokens("text").alias("__tk")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__tk") - 1, F.lit(0)), F.lit(STRIDE)
    )
    exploded = staged.select(
        "doc_id", "__tk", F.explode(starts).alias("__start")
    )
    win = F.slice(F.col("__tk"), F.col("__start") + 1, CHUNK)
    return exploded.select(
        "doc_id",
        (F.col("__start") / STRIDE).cast("int").alias("chunk_idx"),
        F.size(win).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", win)).alias("chunk_hash"),
    )


def token_chunks_sql() -> str:
    """DuckDB twin of :func:`token_chunks` (list slices are 1-based
    and inclusive-end: ``tk[s+1 : s+CHUNK]`` == Spark
    ``slice(tk, s+1, CHUNK)``)."""
    return f"""
WITH t AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(start // {STRIDE} AS INTEGER) AS chunk_idx,
       CAST(len(tk[start+1 : start+{CHUNK}]) AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(tk[start+1 : start+{CHUNK}], ' ')) AS chunk_hash
FROM t, unnest(range(0, greatest(len(tk), 1), {STRIDE})) AS u(start)
"""


_HEX = "0123456789abcdef"

#: Bucket count for the hashed n-gram feature space (DSIR uses 10⁴;
#: 2¹⁰ keeps the oracle twin fast while preserving the collision
#: regime the estimator is designed around).
DSIR_BUCKETS = 1024


def _feature_bucket() -> Column:
    """md5-prefix hash bucket of the feature column ``f``, portable to
    the SQL twin (same instr-arithmetic idiom as
    llm/dedup.py::_hex4_to_int)."""
    h = F.md5("f")
    out = F.lit(0)
    for pos, weight in ((1, 4096), (2, 256), (3, 16), (4, 1)):
        out = out + (F.instr(F.lit(_HEX), F.substring(h, pos, 1)) - 1) * F.lit(
            weight
        )
    return out % DSIR_BUCKETS


def _feature_stream(df: DataFrame) -> DataFrame:
    """Explode each doc into its hashed unigram+bigram feature buckets:
    ``(doc_id, bucket)`` — one explode over one in-row array concat."""
    return (
        df.select(F.col("doc_id"), ltx.tokens("text").alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "concat(tk, transform(slice(tk, 1, size(tk) - 1), "
                    "(w, i) -> concat(w, ' ', tk[i + 1])))"
                )
            ).alias("f"),
        )
        .select("doc_id", _feature_bucket().alias("b"))
    )


def importance_weights(docs: DataFrame, target: DataFrame) -> DataFrame:
    """DSIR-style importance weights (public reference: Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023, arXiv:2302.03169): per document the mean hashed
    n-gram log-likelihood ratio between a ``target`` corpus (the
    distribution you WANT — e.g. curated text) and the raw corpus
    being scored.  High ``avg_logratio`` → the doc looks like target
    data; the DSIR pipeline resamples proportionally to it.

    Features are unigrams + bigrams hashed into :data:`DSIR_BUCKETS`
    buckets (md5-prefix arithmetic — byte-identical in the SQL twin);
    both bucket LMs are add-one smoothed:

    ``λ_b = ln((ct_b + 1)/(Nt + B)) − ln((cr_b + 1)/(Nr + B))``

    and a doc scores ``avg λ_bucket(feature)`` over its feature
    positions (mean, not DSIR's sum, so the score is comparable
    across document lengths; resampling by sum is a trivial
    ``avg·n_feats`` away).  Docs with no features (NULL/empty text)
    return ``n_feats = 0`` and NULL score.

    Plan shape (100-TB framing): both models are hash aggregates on a
    FIXED 1024-key space (partial aggs collapse map-side, the final
    reduce is 1024 rows — effectively free at any scale); the raw
    totals ride broadcast 1-row aggregates; scoring is one
    bucket-keyed join of the exploded feature stream against the
    1024-row λ relation — broadcast, zero shuffle on the corpus side.
    The target corpus is typically a small curated set; nothing about
    the shapes changes if it is large (its model is still 1024 rows).
    """
    # One-hash discipline: the bucketed raw stream is STAGED (two
    # consumers: its model aggregate and the scoring join — md5
    # arithmetic is the dominant per-row cost, never pay it twice),
    # and the totals derive from the 1024-row models instead of a
    # second pass over either corpus.
    raw_feats = stage(_feature_stream(docs))
    tgt_feats = _feature_stream(target)
    cr = raw_feats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    ct = tgt_feats.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    nr = cr.agg(F.sum("cr").alias("__nr"))
    nt = ct.agg(F.sum("ct").alias("__nt"))
    lam = (
        cr.join(ct, on="b", how="left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                    / (F.col("__nt") + F.lit(DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("cr") + 1) / (F.col("__nr") + F.lit(DSIR_BUCKETS))
                )
            ).alias("lam"),
        )
    )
    scored = (
        raw_feats.join(F.broadcast(lam), on="b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.avg("lam"), 6).alias("avg_logratio"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            "avg_logratio",
        )
    )


def importance_weights_sql() -> str:
    """DuckDB twin of :func:`importance_weights` over ``documents``
    with ``target = SELECT * FROM documents WHERE lang = 'en'``."""
    digit = lambda pos, w: (  # noqa: E731
        f"(instr('{_HEX}', substr(md5(f), {pos}, 1)) - 1) * {w}"
    )
    bucket = (
        "(" + " + ".join(digit(p, w) for p, w in ((1, 4096), (2, 256), (3, 16), (4, 1)))
        + f") % {DSIR_BUCKETS}"
    )
    feats = (
        "list_concat(tk, CASE WHEN len(tk) < 2 THEN [] "
        "ELSE list_transform(range(len(tk) - 1), "
        "i -> concat(tk[i + 1], ' ', tk[i + 2])) END)"
    )
    return f"""
WITH raw_tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
), raw_f AS (
  SELECT doc_id, {bucket} AS b
  FROM (SELECT doc_id, unnest({feats}) AS f FROM raw_tk)
), tgt_tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents WHERE lang = 'en'
), tgt_f AS (
  SELECT doc_id, {bucket} AS b
  FROM (SELECT doc_id, unnest({feats}) AS f FROM tgt_tk)
), cr AS (
  SELECT b, count(*) AS cr FROM raw_f GROUP BY b
), ct AS (
  SELECT b, count(*) AS ct FROM tgt_f GROUP BY b
), nr AS (SELECT count(*) AS nr FROM raw_f),
nt AS (SELECT count(*) AS nt FROM tgt_f),
lam AS (
  SELECT cr.b,
         ln((COALESCE(ct.ct, 0) + 1) * 1.0 / (nt.nt + {DSIR_BUCKETS}))
         - ln((cr.cr + 1) * 1.0 / (nr.nr + {DSIR_BUCKETS})) AS lam
  FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN nr CROSS JOIN nt
), agg AS (
  SELECT raw_f.doc_id, count(*) AS n_feats,
         round(avg(lam.lam), 6) AS avg_logratio
  FROM raw_f JOIN lam ON raw_f.b = lam.b
  GROUP BY raw_f.doc_id
)
SELECT t.doc_id, COALESCE(agg.n_feats, 0) AS n_feats, agg.avg_logratio
FROM documents t LEFT JOIN agg ON t.doc_id = agg.doc_id
"""


def tokenized_corpus(docs: DataFrame) -> DataFrame:
    """The staged ``(id, __tk)`` token relation the BM25 family
    scores over (r15 opt): one tokenize pass, cached through the
    staging registry, shared by every leg a caller wires it into.
    ``bm25_topk`` / ``prf_expansion_terms`` / ``bm25_prf_topk`` build
    it themselves when not given one — pass the same relation to
    several calls (the serving pipeline runs four otherwise-
    independent tokenize passes: lexical leg, PRF feedback round, PRF
    corpus-df pass, expanded re-query) and the corpus tokenizes once
    instead.  Lazily filled: the first consumer materializes it and
    Spark's per-block compute locks keep the sibling subtrees from
    re-running the tokenize (an eager pre-fill count was A/B-measured
    a small regression on the quiet machine — one extra job, no saved
    work).

    SINGLE-EXECUTOR CAVEAT (r15 ADVICE): the per-block compute locks
    are per executor — on a multi-executor cluster, concurrent stages
    scheduled on DIFFERENT executors can each compute an unfilled
    cached partition once before a replica exists.  Bounded (≤ one
    extra tokenize per executor, not per reference) and self-healing,
    but a deployment that fans many simultaneous consumers out over a
    large cluster should eager-fill (`.count()`) after staging; the
    lazy default is the measured local win.
    """
    sid = F.col("doc_id")
    tk = stage(
        docs.where(sid.isNotNull() & F.col("text").isNotNull()).select(
            sid, ltx.tokens("text").alias("__tk")
        )
    )
    return tk


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    tokenized: DataFrame | None = None,
) -> DataFrame:
    """Lexical TOP-K retrieval by Okapi BM25 (Robertson et al., the
    Lucene-default scoring) → ``(doc_id, n_terms_matched, bm25, rk)``
    — the keyword-search complement to the vector ANN family (and the
    lexical leg of :func:`rrf_fuse` hybrid retrieval).

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))``
    with ``k1 = BM25_K1``, ``b = BM25_B`` and the smoothed
    ``idf = ln(1 + (N−df+0.5)/(df+0.5))``.  N and
    avgdl are corpus-wide (all docs with non-NULL text, not just
    matches); df counts docs containing the term.

    Plan shape: the token stream filters to the BROADCAST query-term
    set before any aggregation, so the heavy explode collapses
    immediately (tf is one partial agg over matched postings only);
    df is a ≤|terms|-row aggregate and the corpus stats a 1-row
    broadcast; the final rank is a single top-k sort over matched
    docs.  Ties rank deterministically on (rounded score DESC, id).
    """
    if not query_terms:
        raise ValueError("query_terms must name at least one term")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted(set(query_terms))
    sid = F.col("doc_id")
    # tokenized_corpus: staged + eagerly filled (see its docstring —
    # tk feeds the broadcast stats build, the lens join side, and the
    # tf explode of ONE query; a lazy cache let those concurrently
    # scheduled subtrees each re-tokenize the corpus, r15 opt)
    tk = (
        tokenized
        if tokenized is not None
        else tokenized_corpus(docs)
    )
    lens = tk.select(sid, F.size("__tk").cast("double").alias("__dl"))
    stats = F.broadcast(
        lens.agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.avg("__dl").alias("__avgdl"),
        )
    )
    tf = (
        tk.select(sid, F.explode("__tk").alias("__t"))
        .where(F.col("__t").isin(terms))
        .groupBy(sid, "__t")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    dfreq = tf.groupBy("__t").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), on="__t")
        .join(lens, on="doc_id")
        .crossJoin(stats)
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
            ),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * F.col("__tf")
            * (BM25_K1 + 1.0)
            / (
                F.col("__tf")
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("__dl") / F.col("__avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.round(F.sum("__s"), 6).alias("bm25"),
    )
    from pyspark.sql import Window

    # Distributed top-k FIRST (orderBy+limit = TakeOrderedAndProject:
    # per-partition heaps, no shuffle of the matched set — a common
    # query term can match a huge doc fraction, so a global window
    # over per_doc would funnel it all through one task).  The rank
    # window then runs over ≤ k rows.
    topk = per_doc.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        topk.withColumn("rk", F.row_number().over(w))
        .select("doc_id", "n_terms_matched", "bm25", F.col("rk").cast("int").alias("rk"))
        .orderBy("rk")
    )


def prf_expansion_terms(
    docs: DataFrame,
    tokenized: DataFrame | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (the RM3-lite loop
    every lexical stack runs when recall matters): take the BM25
    top-``PRF_FEEDBACK_K`` docs for ``BM25_QUERY``, score their
    OTHER terms by ``idf(t) · tf_in_feedback(t)`` (same smoothed idf
    as BM25, corpus-wide df), and return the top-``PRF_EXPAND_M``
    → ``(term, tf_fb, df, score, rk)``.

    Plan shape: the feedback doc set is the BM25 top-k (bounded);
    its token explode is over ``PRF_FEEDBACK_K`` docs only; the
    corpus-wide df pass explodes the corpus ONCE and collapses
    immediately on the broadcast feedback-term set (the bm25_topk
    discipline).  Deterministic: 6-dp rounded score, (score DESC,
    term ASC) tie order — twin-reproducible."""
    q0 = sorted(set(BM25_QUERY))
    sid = F.col("doc_id")
    # one shared tokenize pass (r15 opt): the feedback BM25 round, the
    # feedback-term explode, the corpus-df pass, and the corpus count
    # all score over the SAME (id, __tk) relation — tokens are tokens,
    # so every aggregate below is unchanged row-for-row
    tk = (
        tokenized
        if tokenized is not None
        else tokenized_corpus(docs)
    )
    fb_ids = bm25_topk(
        docs, q0, k=PRF_FEEDBACK_K, tokenized=tk,
    ).select("doc_id")
    fb_tf = (
        tk.join(F.broadcast(fb_ids), on="doc_id", how="left_semi")
        .select(F.explode("__tk").alias("term"))
        .where(~F.col("term").isin(q0))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf_fb"))
    )
    cdf = (
        tk.select(sid, F.explode("__tk").alias("term"))
        .join(F.broadcast(fb_tf.select("term")), on="term", how="left_semi")
        .groupBy("term")
        .agg(F.count_distinct(sid).cast("double").alias("df"))
    )
    n1 = F.broadcast(tk.agg(F.count(F.lit(1)).cast("double").alias("__n")))
    scored = (
        fb_tf.join(cdf, on="term")
        .crossJoin(n1)  # 1-row corpus-count relation
        .select(
            "term",
            "tf_fb",
            "df",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf_fb"),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    topm = scored.orderBy(F.desc("score"), F.asc("term")).limit(PRF_EXPAND_M)
    w = Window.orderBy(F.desc("score"), F.asc("term"))
    return (
        topm.withColumn("rk", F.row_number().over(w).cast("int"))
        .select("term", F.col("tf_fb").cast("bigint").alias("tf_fb"),
                F.col("df").cast("bigint").alias("df"), "score", "rk")
        .orderBy("rk")
    )


def bm25_prf_topk(
    docs: DataFrame,
    k: int = 10,
    tokenized: DataFrame | None = None,
) -> DataFrame:
    """BM25 with one pseudo-relevance-feedback round: re-run
    :func:`bm25_topk` over ``BM25_QUERY ∪ top-PRF_EXPAND_M expansion
    terms`` (:func:`prf_expansion_terms`).  The expansion term set is
    a bounded collect (≤ ``PRF_EXPAND_M`` strings — the codebook class of
    driver-side state), everything else stays distributed.  The whole
    round — feedback retrieval, expansion scoring, expanded re-query —
    scores over ONE shared :func:`tokenized_corpus` relation (r15 opt:
    previously each leg re-tokenized the corpus)."""
    tk = (
        tokenized
        if tokenized is not None
        else tokenized_corpus(docs)
    )
    exp = [
        r["term"]
        for r in prf_expansion_terms(docs, tokenized=tk).collect()
    ]
    expanded = sorted(set(BM25_QUERY) | set(exp))
    return bm25_topk(
        docs, expanded, k=k, tokenized=tk,
    )


#: ``BM25_QUERY`` as sorted, quote-escaped SQL string literals.
_QUERY_LITS = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(BM25_QUERY)))


def bm25_topk_sql(k: int = 10) -> str:
    """DuckDB twin of :func:`bm25_topk` over ``BM25_QUERY`` — same
    tokenizer class, same smoothed idf and length normalization, same
    rounded tie order."""
    return _bm25_body_sql(f"({_QUERY_LITS})", k=k)


def _bm25_body_sql(terms_src: str, k: int, pre_ctes: str = "") -> str:
    """Shared BM25 scoring twin over an arbitrary term source —
    ``terms_src`` is the parenthesized right side of ``t IN ...``
    (a literal list or a ``(SELECT t FROM qterms)`` subquery the
    caller's ``pre_ctes`` defines) — what lets the PRF twin derive
    its expanded query set in-SQL."""
    terms = None  # kept out of the f-string below
    return f"""
WITH {pre_ctes}tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), lens AS (
  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens
), tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(tk) AS t FROM tk)
  WHERE t IN {terms_src}
  GROUP BY doc_id, t
), dfreq AS (
  SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({BM25_K1:.17g} + 1.0)
           / (tf.tf + {BM25_K1:.17g} * (1.0 - {BM25_B:.17g}
                + {BM25_B:.17g} * lens.dl / stats.avgdl)) AS s
  FROM tf
  JOIN dfreq USING (t)
  JOIN lens USING (doc_id)
  CROSS JOIN stats
), per_doc AS (
  SELECT doc_id, count(*) AS n_terms_matched, round(sum(s), 6) AS bm25
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms_matched, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rk
FROM per_doc
QUALIFY rk <= {k}
ORDER BY rk
"""


def prf_expansion_terms_sql() -> str:
    """DuckDB twin of :func:`prf_expansion_terms` — the feedback set
    from the BM25 twin, same smoothed idf · feedback-tf score, same
    rounded tie order."""
    q0 = _QUERY_LITS
    fb = bm25_topk_sql(k=PRF_FEEDBACK_K)
    return f"""
WITH fb AS ({fb}),
base AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), fb_tf AS (
  SELECT t AS term, CAST(count(*) AS DOUBLE) AS tf_fb
  FROM (SELECT unnest(b2.tk) AS t FROM base b2
        WHERE b2.doc_id IN (SELECT doc_id FROM fb))
  WHERE t NOT IN ({q0})
  GROUP BY t
), cdf AS (
  SELECT t AS term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM (SELECT doc_id, unnest(tk) AS t FROM base)
  WHERE t IN (SELECT term FROM fb_tf)
  GROUP BY t
), n1 AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM base
)
SELECT term, CAST(tf_fb AS BIGINT) AS tf_fb, CAST(df AS BIGINT) AS df,
       score,
       CAST(row_number() OVER (ORDER BY score DESC, term) AS INT) AS rk
FROM (
  SELECT term, tf_fb, df,
         round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf_fb, 6) AS score
  FROM fb_tf JOIN cdf USING (term) CROSS JOIN n1
)
QUALIFY rk <= {PRF_EXPAND_M}
ORDER BY rk
"""


def bm25_prf_topk_sql(k: int = 10) -> str:
    """DuckDB twin of :func:`bm25_prf_topk` — the expanded query set
    is derived IN-SQL (expansion twin → union with the original
    terms) and fed to the shared BM25 body via a qterms CTE."""
    exp = prf_expansion_terms_sql()
    q0 = _QUERY_LITS
    pre = (
        f"expq AS ({exp}), "
        f"qterms AS (SELECT term AS t FROM expq "
        f"UNION SELECT unnest([{q0}]) AS t), "
    )
    return _bm25_body_sql(
        "(SELECT t FROM qterms)",
        k=k,
        pre_ctes=pre,
    )


def vocab_coverage(docs: DataFrame) -> DataFrame:
    """Vocabulary-construction audit → the top-``VOCAB_TOP`` (v) corpus tokens
    with ``(token, n, rk, share, cum_cov)`` ordered by rank — the
    BPE-prep question "how large must the vocabulary be to cover X%
    of the token stream" (1 − cum_cov at rank v is the OOV rate a
    v-entry vocab would eat).

    Scale shape: token counts are ONE partial agg over the explode
    (the vocab relation is smaller than the corpus by the repeat
    factor), the corpus total a 1-row broadcast, and the top-v cut is
    ``orderBy().limit(v)`` — distributed TakeOrderedAndProject
    per-partition heaps, NO shuffle of the vocab relation — so the
    rank/cumulative windows run over ≤ v rows.  Ties rank (count
    DESC, token ASC), both binary collation."""
    sid = F.col("doc_id")
    counts = (
        docs.where(sid.isNotNull() & F.col("text").isNotNull())
        .select(F.explode(ltx.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__tot"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(VOCAB_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        top.crossJoin(F.broadcast(total))  # 1-row corpus-total relation
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .withColumn(
            "share", F.round(F.col("n") / F.col("__tot").cast("double"), 6)
        )
        .withColumn(
            "cum_cov",
            F.round(
                F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("__tot").cast("double"),
                6,
            ),
        )
        .select("token", "n", "rk", "share", "cum_cov")
        .orderBy("rk")
    )


def vocab_coverage_sql() -> str:
    """DuckDB twin of :func:`vocab_coverage` — same tokenizer class,
    same (count DESC, token) tie order, window sums cast to BIGINT
    before the double division (the HUGEINT render rule)."""
    return f"""
WITH tok AS (
  SELECT unnest({_TOK_SQL}) AS token FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), c AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS __tot FROM c
), top AS (
  SELECT token, n,
         CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rk
  FROM c
  QUALIFY rk <= {VOCAB_TOP}
)
SELECT token, n, rk,
       round(n / CAST(__tot AS DOUBLE), 6) AS share,
       round(CAST(sum(n) OVER (ORDER BY rk) AS BIGINT)
             / CAST(__tot AS DOUBLE), 6) AS cum_cov
FROM top CROSS JOIN tot ORDER BY rk
"""


def rrf_fuse(rankings: Sequence[DataFrame]) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N ranked
    retrievals → ``(id, rrf_score, n_lists)``: score = Σ over lists of
    ``1/(RRF_K + rank)``.  THE standard hybrid-search combiner —
    rank-based, so a BM25 score and a cosine similarity fuse without
    any calibration.  Each input carries (id, rank); ids missing from
    a list simply contribute nothing (no penalty term).  Output is
    unranked-but-scored; callers order by (rrf_score DESC, id) and
    cut — kept explicit so the fusion stays one cheap union +
    partial agg."""
    if not rankings:
        raise ValueError("rankings must contain at least one DataFrame")
    parts = [
        r.select(
            F.col("doc_id"),
            (F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rk").cast("double"))).alias(
                "__c"
            ),
        )
        for r in rankings
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("doc_id").agg(
        F.round(F.sum("__c"), 6).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
