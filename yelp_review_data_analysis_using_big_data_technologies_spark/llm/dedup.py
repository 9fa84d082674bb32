"""Deduplication operators for document corpora (SURVEY.md §2.12).

Four escalating strategies, all shuffle-on-a-small-key — the dedup
work is always partitioned by a content-derived bucket, never an
all-pairs comparison:

- :func:`exact_dedup` — hash-groupBy on ``sha2(text, 256)``.
- :func:`near_dup_pairs_banded` — banded MinHash LSH: signature →
  band keys → bucket self-join → exact Jaccard verification.
- :func:`simhash_buckets` — bit-majority SimHash histogram (word 0
  of :func:`simhash_words`); equal values ⇒ near-identical token
  multisets.
- :func:`simhash_near_dup_pairs` — 64-bit SimHash as 4×16-bit words
  (one staged md5 pass); the words double as Hamming bands
  (pigeonhole: exact recall for distance ≤ 3), verification =
  ``bit_count(xor)``.
- :func:`near_dup_pairs_ml` — ``pyspark.ml`` MinHashLSH
  ``approxSimilarityJoin``, the library formulation of the same
  band-bucket idea.

The generic keyed dedup (reference ``dropDuplicates``,
scripts/etl.py:56) lives in ``operators.relational``; these compose it
with content keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import spread, stage
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.text import (
    NUM_HASHES,
    minhash_signature_from,
    tokens,
    shingled,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import (
    dedup_keyed_deterministic,
)

#: Hex-digit lookup used by the engine-portable 4-hex-char → int
#: decode (Spark and DuckDB both expose ``instr``; DuckDB lacks
#: Spark's ``conv``).
_HEX = "0123456789abcdef"

#: Width in bits of the :func:`simhash_buckets` key and its SQL twin:
#: one 16-bit word of :func:`simhash_words`.
SIMHASH_BITS = 16

#: The banded MinHash LSH shape every registered near-dup entry and
#: its DuckDB twin run: word 3-gram shingles, ``llm.text``'s
#: ``NUM_HASHES`` (6) hashes in 3 bands of 2 rows, pairs kept at exact
#: Jaccard >= 0.5.
SHINGLE_N = 3
BANDS = 3
THRESHOLD = 0.5

#: Document-frequency cut of the exact n-gram Jaccard joins: shingles
#: in more documents than this are boilerplate and are dropped.
MAX_DF = 1000

#: Jaccard cut of the exact n-gram joins (:func:`ngram_jaccard_pairs`,
#: :func:`ngram_jaccard_join`) and their DuckDB twins.
NGRAM_THRESHOLD = 0.3

#: Band-bucket population above which :func:`band_bucket_profile`
#: (and its twin) reports a bucket as an oversize near-dup clique.
OVERSIZE_BUCKET = 1000


def content_hash() -> Column:
    """Stable content key: ``sha2(text, 256)`` (lowercase hex in both
    Spark and DuckDB)."""
    return F.sha2(F.col("text"), 256)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup on the content hash: one hash aggregate partitioned
    by ``sha2(text)``, survivor = minimal ``doc_id`` (deterministic,
    oracle-checkable).  At 100 TB this shuffles one 64-char key plus
    the surviving row per group — never the full corpus width twice."""
    hashed = df.withColumn("content_hash", content_hash())
    return dedup_keyed_deterministic(
        hashed, keys=["content_hash"], tiebreak=["doc_id"]
    )


def band_key_array():
    """The ``BANDS`` LSH bucket keys derived from the ``NUM_HASHES``-wide
    MinHash signature array column ``__sig``, as one array expression — THE shared definition of
    how a signature becomes band keys (the self-join staging, the
    delta-vs-corpus join, and the streaming ingest's persisted index
    all call this; a band-layout change cannot silently diverge
    them)."""
    rows = NUM_HASHES // BANDS
    sig_col = F.col("__sig")
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[sig_col[b * rows + r] for r in range(rows)],
            )
            for b in range(BANDS)
        ]
    )


def jaccard_rounded(sh_a, sz_a, sh_b, sz_b):
    """Exact Jaccard from staged DISTINCT shingle arrays and their
    sizes — ``round(|A∩B| / (|A|+|B|−|A∩B|), 6)``, the single shared
    verification expression every banded candidate path filters on
    (and the SQL twins mirror)."""
    sh_a = F.col(sh_a) if isinstance(sh_a, str) else sh_a
    sh_b = F.col(sh_b) if isinstance(sh_b, str) else sh_b
    sz_a = F.col(sz_a) if isinstance(sz_a, str) else sz_a
    sz_b = F.col(sz_b) if isinstance(sz_b, str) else sz_b
    i = F.size(F.array_intersect(sh_a, sh_b))
    return F.round(i / (sz_a + sz_b - i), 6)


def _banded_keys(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared LSH staging for the self-join and the delta-vs-corpus
    join over ``(doc_id, text)``: returns ``(base, band_keys)`` where
    ``base`` is the staged ``(__id, __sh, __sz)`` shingle-set relation
    (empty-shingle docs dropped — they can never verify and their
    all-NULL band keys collide quadratically) and ``band_keys`` is the
    exploded ``(__id, band_key)`` relation."""
    # ``spread`` the narrow (id, text) source first: off a one-row-group
    # scan the shingle+signature build otherwise runs as a single task
    # (measured 5.8 s of the 5.9 s query at sf0.1) — and a bare
    # repartition doesn't help because the size>0 filter pushdown drags
    # the computing projection back below the exchange.  No-op at
    # warehouse scale (input splits already ≥ cluster parallelism).
    src = spread(df.select("doc_id", "text"))
    base = stage(
        shingled(src, ["doc_id"], n=SHINGLE_N, out="__sh0")
        .select(
            F.col("doc_id").alias("__id"),
            F.array_distinct(F.col("__sh0")).alias("__sh"),
        )
        .filter(F.size("__sh") > 0)
        .withColumn("__sig", minhash_signature_from())
        .withColumn("__sz", F.size("__sh"))
    )
    band_keys = base.select(
        "__id",
        F.explode(
            band_key_array()
        ).alias("band_key"),
    )
    return base, band_keys


def near_dup_pairs_banded(df: DataFrame) -> DataFrame:
    """Banded MinHash LSH near-duplicate pair join over
    ``(doc_id, text)``.

    1. Per doc: distinct word ``SHINGLE_N``-gram shingles + a
       ``NUM_HASHES``-wide MinHash signature over them.
    2. Split the signature into ``BANDS`` bands of ``NUM_HASHES //
       BANDS`` rows; each band hashes to a bucket key.  Probability a
       pair shares ≥1 band ≈ 1-(1-J^r)^b — the classic S-curve.
    3. Self-join on the band key (shuffle partitioned by bucket — the
       only join, and it only ever compares within-bucket docs; no
       all-pairs crossJoin at any scale).
    4. Verify candidates with EXACT Jaccard over the shingle sets and
       keep pairs ≥ ``THRESHOLD``.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    **Degenerate-clique regime** (measured,
    scripts/measure_lsh_clique.py at c84e9fc):
    within-bucket work is Σ bucket², so a boilerplate-heavy corpus
    where a large fraction of docs is ONE near-dup clique (same
    template, tiny edits — exact-dedup-proof) degrades to clique²
    candidate pairs no matter how the buckets are keyed; that is a
    property of PAIR ENUMERATION, not of this plan.  The join is
    pair-complete: :func:`band_bucket_profile` detects the regime
    before the join runs, and the clean-pipeline entries run exact
    dedup first, which removes the worst case.
    """
    # Shingles/signatures build ONCE and persist via the staging
    # registry (callers release after materialization): the plan
    # references the staged relation three times (band explode + both
    # verification sides); at warehouse scale it's a staging table.
    base, band_keys = _banded_keys(df)
    return verified_pairs_from(base, band_keys)


def verified_pairs_from(base: DataFrame, band_keys: DataFrame) -> DataFrame:
    """Band-bucket self-join + exact-Jaccard verification over
    PREBUILT features: ``base`` carries ``(__id, __sh, __sz)``,
    ``band_keys`` carries ``(__id, band_key)`` exploded.  Returns
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and Jaccard ≥
    ``THRESHOLD`` — the verification
    tail shared by :func:`near_dup_pairs_banded` and the streaming
    doc-dedup ingest's intra-batch pass (which already holds features
    and must not rebuild them)."""
    cands = (
        band_keys.alias("a")
        .join(band_keys.alias("b"), on="band_key")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Join the shingle sets back per side (candidates are few; carrying
    # arrays through the band explode would duplicate them per band).
    # The shingle arrays are DISTINCT by construction, so
    # |A∪B| = |A|+|B|−|A∩B| exactly — the per-pair array_union (a
    # hash-set + output-array allocation per candidate) is replaced by
    # two staged per-doc sizes and integer arithmetic; same integers,
    # bitwise-identical Jaccard.
    sh = base.select("__id", "__sh", "__sz")
    verified = (
        cands.join(
            sh.withColumnsRenamed(
                {"__id": "id_a", "__sh": "sh_a", "__sz": "sz_a"}
            ),
            on="id_a",
        )
        .join(
            sh.withColumnsRenamed(
                {"__id": "id_b", "__sh": "sh_b", "__sz": "sz_b"}
            ),
            on="id_b",
        )
        .withColumn(
            "jaccard", jaccard_rounded("sh_a", "sz_a", "sh_b", "sz_b")
        )
        .filter(F.col("jaccard") >= THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def dedup_against_corpus(corpus: DataFrame, delta: DataFrame) -> DataFrame:
    """INCREMENTAL-ingest dedup: admit only ``delta`` rows that are
    neither exact nor near (banded-LSH, ≥ ``THRESHOLD``) duplicates of
    the existing ``corpus`` — the shape a production pipeline runs per
    ingestion batch, where re-pairing the whole corpus against itself
    (:func:`near_dup_pairs_banded`) would redo N² work for an N+δ
    update.  Intra-delta dedup is the existing :func:`exact_dedup` /
    :func:`near_dup_removal` applied to the delta first — composable,
    not duplicated here.

    Plan shape at scale: the exact check projects the corpus to ONE
    hash column (scan stays narrow) and anti-joins the delta on it;
    the near check joins corpus band keys against DELTA band keys —
    candidates are bounded by the delta's bucket overlap, not the
    corpus pair count, and the shuffle key is the band bucket exactly
    as in the self-join case.  Both checks are independent
    conjunctions, so the oracle can express them against the
    full-table pair set restricted to cross pairs."""
    dh = content_hash()
    corpus_hashes = corpus.select(dh.alias("__h")).distinct()
    exact_ok = (
        delta.withColumn("__h", dh)
        .join(corpus_hashes, on="__h", how="left_anti")
        .drop("__h")
    )

    cbase, ckeys = _banded_keys(corpus)
    dbase, dkeys = _banded_keys(delta)
    matched = match_banded_candidates(dbase, dkeys, cbase, ckeys)
    return exact_ok.join(matched, on="doc_id", how="left_anti")


def match_banded_candidates(
    dbase: DataFrame,
    dkeys: DataFrame,
    cbase: DataFrame,
    ckeys: DataFrame,
) -> DataFrame:
    """Delta ``doc_id`` values with ≥1 corpus candidate (shared band key)
    verifying at Jaccard ≥ ``THRESHOLD`` — THE matched-candidates predicate,
    shared by :func:`dedup_against_corpus` and the cross-batch check
    of ``streaming.ingest.stream_doc_dedup_to_parquet`` so the two
    cannot silently diverge.
    Inputs: ``dbase``/``cbase`` carry ``(__id, __sh, __sz)``,
    ``dkeys``/``ckeys`` carry ``(__id, band_key)`` exploded."""
    cands = (
        dkeys.withColumnsRenamed({"__id": "__did"})
        .join(ckeys.withColumnsRenamed({"__id": "__cid"}), on="band_key")
        .select("__did", "__cid")
        .dropDuplicates(["__did", "__cid"])
    )
    return (
        cands.join(
            dbase.select("__id", "__sh", "__sz").withColumnsRenamed(
                {"__id": "__did", "__sh": "sh_d", "__sz": "sz_d"}
            ),
            on="__did",
        )
        .join(
            cbase.select("__id", "__sh", "__sz").withColumnsRenamed(
                {"__id": "__cid", "__sh": "sh_c", "__sz": "sz_c"}
            ),
            on="__cid",
        )
        .filter(
            jaccard_rounded("sh_d", "sz_d", "sh_c", "sz_c") >= THRESHOLD
        )
        .select(F.col("__did").alias("doc_id"))
        .distinct()
    )


def _jaccard_postings(df: DataFrame) -> DataFrame:
    """Staged raw ``(__id, __s)`` distinct-shingle postings of
    ``(doc_id, text)`` — the shared tokenization leg of the self and
    cross-corpus Jaccard joins."""
    return stage(
        shingled(spread(df.select("doc_id", "text")), ["doc_id"], n=SHINGLE_N, out="__sh0").select(
            F.col("doc_id").alias("__id"),
            F.explode(F.array_distinct(F.col("__sh0"))).alias("__s"),
        )
    )


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle
    index — the deterministic complement to the probabilistic MinHash
    band join.

    Plan: explode distinct shingles into (shingle, id) postings,
    self-join postings ON THE SHINGLE (shuffle key = shingle; a pair
    is only ever compared if it shares one), count shared shingles per
    pair, and compute ``J = |A∩B| / (|A|+|B|-|A∩B|)`` from
    pre-aggregated set sizes.  Candidate work is Σ posting-list², so
    ``MAX_DF`` drops shingles appearing in more than that many docs —
    boilerplate shingles both blow up the join quadratically and carry
    no near-dup signal (a pair sharing ONLY ultra-common shingles is
    not a near-duplicate).  Sizes and Jaccard are computed over the
    retained shingle space (mirrored in the SQL twin).
    """
    # Persist the RAW postings before anything touches them (via the
    # staging registry — callers release after materialization): the
    # plan references the posting relation four times (df-cut
    # aggregate, both sides of the self-join, the size aggregate) and
    # re-tokenizing the corpus per reference dominates runtime.  At
    # warehouse scale this is a staging table.
    sh = _jaccard_postings(df)
    kept = (
        sh.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= MAX_DF)
        .select("__s")
    )
    # Stage the FILTERED postings too: the
    # plan reads them three times (size aggregate + both self-join
    # sides), and each un-staged reference re-runs the df
    # aggregate + the retain join over the cached raw postings —
    # planned-time exchange reuse does not dedup them (38
    # InMemoryTableScans in the before-plan).  Rows identical.
    sh = stage(sh.join(kept, on="__s"))
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    shared = (
        sh.alias("a")
        .join(sh.alias("b"), on="__s")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        shared.join(
            sizes.withColumnsRenamed({"__id": "id_a", "__sz": "__sza"}), on="id_a"
        )
        .join(
            sizes.withColumnsRenamed({"__id": "id_b", "__sz": "__szb"}), on="id_b"
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("__c") / (F.col("__sza") + F.col("__szb") - F.col("__c")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= NGRAM_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_sql() -> str:
    """DuckDB twin of :func:`ngram_jaccard_pairs` (same shingling,
    same ``MAX_DF`` cut, same size bookkeeping)."""
    toks = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    parts = ", ".join(f"{toks}[i+{j + 1}]" for j in range(SHINGLE_N))
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, unnest(list_transform(
    range(len({toks}) - {SHINGLE_N - 1}),
    i -> concat_ws(' ', {parts}))) AS s
  FROM documents WHERE len({toks}) >= {SHINGLE_N}
), kept AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= {MAX_DF}
), f AS (
  SELECT sh.id, sh.s FROM sh JOIN kept USING (s)
), sizes AS (
  SELECT id, count(*) AS sz FROM f GROUP BY id
), shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM f a JOIN f b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.id = shared.id_a
JOIN sizes sb ON sb.id = shared.id_b
WHERE round(c * 1.0 / (sa.sz + sb.sz - c), 6) >= {NGRAM_THRESHOLD}
"""


def ngram_jaccard_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """CROSS-CORPUS exact n-gram Jaccard join (the R-S form of
    :func:`ngram_jaccard_pairs`): pairs ``(id_l, id_r, jaccard)`` with
    ``id_l`` from ``left`` and ``id_r`` from ``right`` at Jaccard ≥
    ``NGRAM_THRESHOLD`` — the audit surface for "which docs of the new crawl
    near-duplicate which docs of the reference corpus" (admission
    decisions are :func:`dedup_against_corpus`; THIS returns the pairs
    themselves, with scores, for review/reporting).

    Plan: one staged posting relation PER SIDE (each side tokenizes
    once), a left×right equi-join ON THE SHINGLE — candidates are
    Σ_s df_L(s)·df_R(s), never |L|·|R| — and Jaccard from
    pre-aggregated per-side sizes.  ``MAX_DF`` caps a shingle's TOTAL
    occurrences across both sides (boilerplate shared across corpora
    is exactly what blows the cross join up); sizes and Jaccard are
    computed over the retained space, mirroring the self-join's
    documented semantics.  No id ordering constraint: the sides are
    different corpora (the same id may legitimately appear in both),
    so every qualifying (left, right) pair is emitted once."""
    shl = _jaccard_postings(left)
    shr = _jaccard_postings(right)
    kept = (
        shl.select("__s")
        .unionAll(shr.select("__s"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= MAX_DF)
        .select("__s")
    )
    # Stage each side's FILTERED postings (r16 opt, guide §1.2):
    # each is read twice (its size aggregate + the shared join)
    # and ``kept`` — a full df aggregate over BOTH sides — would
    # otherwise re-execute once per un-staged reference (the
    # before-plan shows no planned-time exchange reuse).  Rows
    # identical.
    shl = stage(shl.join(kept, on="__s"))
    shr = stage(shr.join(kept, on="__s"))
    sz_l = shl.groupBy("__id").agg(F.count(F.lit(1)).alias("__szl"))
    sz_r = shr.groupBy("__id").agg(F.count(F.lit(1)).alias("__szr"))
    shared = (
        shl.withColumnsRenamed({"__id": "id_l"})
        .join(shr.withColumnsRenamed({"__id": "id_r"}), on="__s")
        .groupBy("id_l", "id_r")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        shared.join(sz_l.withColumnsRenamed({"__id": "id_l"}), on="id_l")
        .join(sz_r.withColumnsRenamed({"__id": "id_r"}), on="id_r")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__c")
                / (F.col("__szl") + F.col("__szr") - F.col("__c")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= NGRAM_THRESHOLD)
        .select("id_l", "id_r", "jaccard")
    )


def ngram_jaccard_join_sql(left_rel: str, right_rel: str) -> str:
    """DuckDB twin of :func:`ngram_jaccard_join` — ``left_rel`` /
    ``right_rel`` are table names or parenthesized subqueries."""
    toks = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    parts = ", ".join(f"{toks}[i+{j + 1}]" for j in range(SHINGLE_N))
    posting = (
        f"SELECT DISTINCT doc_id AS id, unnest(list_transform("
        f"range(len({toks}) - {SHINGLE_N - 1}), "
        f"i -> concat_ws(' ', {parts}))) AS s "
        f"FROM {{rel}} WHERE len({toks}) >= {SHINGLE_N}"
    )
    return f"""
WITH shl AS ({posting.format(rel=left_rel)}
), shr AS ({posting.format(rel=right_rel)}
), kept AS (
  SELECT s FROM (SELECT s FROM shl UNION ALL SELECT s FROM shr)
  GROUP BY s HAVING count(*) <= {MAX_DF}
), fl AS (SELECT shl.id, shl.s FROM shl JOIN kept USING (s)
), fr AS (SELECT shr.id, shr.s FROM shr JOIN kept USING (s)
), szl AS (SELECT id, count(*) AS sz FROM fl GROUP BY id
), szr AS (SELECT id, count(*) AS sz FROM fr GROUP BY id
), shared AS (
  SELECT l.id AS id_l, r.id AS id_r, count(*) AS c
  FROM fl l JOIN fr r ON l.s = r.s
  GROUP BY 1, 2
)
SELECT id_l, id_r,
       round(c * 1.0 / (szl.sz + szr.sz - c), 6) AS jaccard
FROM shared
JOIN szl ON szl.id = shared.id_l
JOIN szr ON szr.id = shared.id_r
WHERE round(c * 1.0 / (szl.sz + szr.sz - c), 6) >= {NGRAM_THRESHOLD}
"""


def _hex4_to_int(hexstr: Column) -> Column:
    """First-4-hex-chars → int via ``instr`` arithmetic — portable to
    engines without ``conv(x, 16, 10)``."""
    out = F.lit(0)
    for pos, weight in ((1, 4096), (2, 256), (3, 16), (4, 1)):
        digit = F.instr(F.lit(_HEX), F.substring(hexstr, pos, 1)) - 1
        out = out + digit * F.lit(weight)
    return out


def simhash_buckets(df: DataFrame) -> DataFrame:
    """SimHash histogram: bucket value → doc count (buckets with
    count > 1 are near-dup groups).  One hash aggregate on a
    ``SIMHASH_BITS``-bit integer key.

    The hash is word 0 of :func:`simhash_words`, built by the staged
    one-md5-pass builder.  NULL-text docs are excluded (and in the SQL
    twin): the staged word array null-propagates while the twin's
    coalesce folds NULL to bucket 0, and a "bucket" of no-content docs
    is a near-dup group of nothing anyway."""
    hashed = with_simhash_words(
        spread(df.filter(F.col("text").isNotNull()).select(F.col("text"))),
        [],
        n_words=1,
    ).select(F.col("__w")[0].alias("simhash"))
    return hashed.groupBy("simhash").agg(F.count(F.lit(1)).alias("n_docs"))


def simhash_sql() -> str:
    """DuckDB twin of the :func:`simhash_buckets` key (word 0 of
    :func:`simhash_words`) for oracle checks — generated from the same
    constants so both engines compute bit-for-bit the same value."""
    tok = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    digit = (
        lambda pos, w: f"(instr('{_HEX}', substr(md5(t), {pos}, 1)) - 1) * {w}"
    )
    val = " + ".join(digit(p, w) for p, w in ((1, 4096), (2, 256), (3, 16), (4, 1)))
    vals = f"list_transform({tok}, t -> {val})"
    terms = []
    for j in range(SIMHASH_BITS):
        sum_bits = f"list_sum(list_transform({vals}, v -> (v // {2**j}) % 2))"
        terms.append(
            f"CASE WHEN 2 * coalesce({sum_bits}, 0) > len({tok}) THEN {2**j} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


#: Production SimHash width: 4 words × 16 bits = 64 bits.  The hash is
#: represented as an ARRAY of 16-bit words rather than one 64-bit int —
#: same bits, but (a) no signed-overflow trap on bit 63, (b) the words
#: ARE the Hamming-distance bands (pigeonhole: a pair within Hamming
#: distance ``n_words - 1`` agrees exactly on ≥1 word), and (c) every
#: per-word expression stays engine-portable.
SIMHASH_WORDS = 4


def simhash_words(text: Column | str) -> Column:
    """64-bit SimHash as an array of ``SIMHASH_WORDS`` 16-bit words.
    Token hash = the first ``4 * SIMHASH_WORDS`` hex chars of
    ``md5(token)``; output bit j is set iff the majority of token
    hashes set bit j.

    One ``aggregate`` pass per word with an array accumulator (the
    per-bit partial sums), NOT one array scan per bit — 4 passes for
    64 bits instead of 64.  All codegen'd higher-order functions, no
    Python boundary.
    """
    tks = tokens(text)
    n = F.size(tks)
    powers = F.array(*[F.lit(2**j) for j in range(16)])
    words = []
    for w in range(SIMHASH_WORDS):
        vals = F.transform(
            tks, lambda t: _hex4_to_int(F.substring(F.md5(t), 4 * w + 1, 4))
        )
        bit_sums = F.aggregate(
            vals,
            F.array_repeat(F.lit(0), 16),
            lambda acc, v: F.zip_with(
                acc, powers, lambda a, p: a + F.floor(v / p).cast("int") % 2
            ),
        )
        word = F.aggregate(
            F.zip_with(
                bit_sums,
                powers,
                lambda s, p: F.when(s * 2 > n, p).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        words.append(word)
    return F.array(*words)


def simhash_words_sql() -> str:
    """DuckDB twin of :func:`simhash_words` — straightforward per-bit
    ``list_sum`` formulation (the oracle optimizes for obviousness, not
    speed), generated from the same constants so the words agree
    bit-for-bit."""
    tok = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    words = []
    for w in range(SIMHASH_WORDS):
        digit = (
            lambda pos, wt: f"(instr('{_HEX}', substr(md5(t), {4 * w + pos}, 1)) - 1) * {wt}"
        )
        val = " + ".join(
            digit(p, wt) for p, wt in ((1, 4096), (2, 256), (3, 16), (4, 1))
        )
        vals = f"list_transform({tok}, t -> {val})"
        terms = []
        for j in range(16):
            sum_bits = f"list_sum(list_transform({vals}, v -> (v // {2**j}) % 2))"
            terms.append(
                f"CASE WHEN 2 * coalesce({sum_bits}, 0) > len({tok}) "
                f"THEN {2**j} ELSE 0 END"
            )
        words.append("(" + " + ".join(terms) + ")")
    return "[" + ", ".join(words) + "]"


def with_simhash_words(
    df: DataFrame,
    keep_cols: list[str],
    n_words: int = SIMHASH_WORDS,
) -> DataFrame:
    """Corpus-scale staged SimHash: tokenize and md5 ONCE per token in
    their own projections (the two-projection staging shape Catalyst
    leaves uncollapsed — an md5 array inlined into the per-word
    lambdas would re-hash every token once per word, the same
    subexpression-elimination trap as ``llm.text.shingled``), then
    derive each word from the bound hash column with cheap hex
    arithmetic.  Returns ``keep_cols`` + the ``__w`` word array of
    ``text`` —
    same values as :func:`simhash_words`, one md5 pass instead of
    ``n_words``."""
    tok, hcol, ncol = "__tk_sh", "__h_sh", "__n_sh"
    staged = df.select(*keep_cols, tokens("text").alias(tok))
    hashed = staged.select(
        *keep_cols,
        F.transform(tok, F.md5).alias(hcol),
        F.size(F.col(tok)).alias(ncol),
    )
    powers = F.array(*[F.lit(2**j) for j in range(16)])
    n = F.col(ncol)
    words = []
    for w in range(n_words):
        vals = F.transform(
            F.col(hcol),
            lambda h: _hex4_to_int(F.substring(h, 4 * w + 1, 4)),
        )
        bit_sums = F.aggregate(
            vals,
            F.array_repeat(F.lit(0), 16),
            lambda acc, v: F.zip_with(
                acc, powers, lambda a, p: a + F.floor(v / p).cast("int") % 2
            ),
        )
        words.append(
            F.aggregate(
                F.zip_with(
                    bit_sums,
                    powers,
                    lambda s, p: F.when(s * 2 > n, p).otherwise(F.lit(0)),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
        )
    return hashed.select(*keep_cols, F.array(*words).alias("__w"))


def simhash_near_dup_pairs(df: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs of ``(doc_id, text)`` with
    Hamming-band candidate generation — real near-dups differ by a few
    BITS, so exact-value grouping (:func:`simhash_buckets`) misses
    them.

    1. 64-bit SimHash per doc as ``SIMHASH_WORDS`` (4) 16-bit words.
    2. Band explode: (word_index, word_value) keys.  Pigeonhole: any
       pair within Hamming distance 3 agrees exactly on at least one
       of the 4 words, so recall is EXACT for the Hamming cut of 3.
    3. Self-join on the band key (shuffle key = the band — candidates
       only ever compare within a band bucket, no all-pairs).
    4. Verify with the exact Hamming distance
       ``Σ bit_count(xor(word_a, word_b))``; keep ``<= 3``.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    NULL documents never participate (explicit filter): a NULL text
    has no content to be "near" anything.  Without the filter the two
    engines silently disagree — Spark's word array is ``[NULL × 4]``
    (null join keys → dropped by accident), while the SQL twin's
    ``coalesce`` folds every NULL doc to words ``[0 × 4]`` → one giant
    Hamming-0 clique (caught by tests/test_null_injection.py).
    """
    # Staged hash (one md5 pass) + staging-registry persist: the plan
    # references this relation three times (band explode + both sides
    # of the Hamming verification join).
    base = stage(
        with_simhash_words(
            spread(df.select("doc_id", "text").filter(F.col("text").isNotNull())),
            ["doc_id"],
        ).select(F.col("doc_id").alias("__id"), F.col("__w"))
    )
    bands = base.select(
        "__id",
        F.posexplode("__w").alias("__band", "__wv"),
    )
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), on=["__band", "__wv"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    h = base.select("__id", "__w")
    hamming = F.aggregate(
        F.zip_with(
            "__wa",
            "__wb",
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x.cast("int"),
    )
    return (
        cands.join(h.withColumnsRenamed({"__id": "id_a", "__w": "__wa"}), on="id_a")
        .join(h.withColumnsRenamed({"__id": "id_b", "__w": "__wb"}), on="id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dup_sql() -> str:
    """DuckDB twin of :func:`simhash_near_dup_pairs` (same words, same
    bands, same Hamming verification, same NULL-doc exclusion)."""
    words = simhash_words_sql()
    ham = " + ".join(
        f"bit_count(xor(ha.w[{i + 1}], hb.w[{i + 1}]))" for i in range(SIMHASH_WORDS)
    )
    return f"""
WITH h AS (
  SELECT doc_id AS id, {words} AS w FROM documents
  WHERE text IS NOT NULL
), bands AS (
  SELECT id, unnest(range({SIMHASH_WORDS})) AS band, unnest(w) AS wv FROM h
), cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.wv = b.wv
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming
FROM cands
JOIN h ha ON ha.id = cands.id_a
JOIN h hb ON hb.id = cands.id_b
WHERE {ham} <= 3
"""


def near_dup_removal(df: DataFrame) -> DataFrame:
    """End-to-end near-dup REMOVAL: detect pairs with the banded LSH
    join, then anti-join away every ``id_b`` (the larger id of each
    pair).  Greedy keep-smallest-id canonicalization: for a clique of
    near-dups only the minimum id survives; for chains (A~B, B~C,
    A≁C) the survivors are the non-dominated ids — the standard
    single-pass approximation used when full connected components
    aren't worth a fixpoint loop.  One anti-join on the id — the
    corpus itself never shuffles wide."""
    pairs = near_dup_pairs_banded(df)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return df.join(losers, on="doc_id", how="left_anti")


def prefix_contained(df: DataFrame) -> DataFrame:
    """Prefix-containment dedup (the cheap exact-substring class): every
    ``(doc_id, text)`` doc whose FULL text is a prefix of another doc — truncated
    re-crawls, paginated shards, streaming cut-offs.  Returns
    ``(id, container_id)`` where the doc's text is a prefix of (or
    equal to) the container's.

    The trick is lexicographic: if A is a prefix of B, every string
    sorted between them also starts with A — so A is contained in
    SOMETHING iff A's IMMEDIATE SUCCESSOR in text order starts with A.
    One sorted-neighborhood window, no pair join, no index:

    - window PARTITION BY the first char (a nonempty
      A and any B starting with A share them, so the global successor
      is in A's block whenever it matters; a cross-block successor
      cannot start with A) and ORDER BY (text, id) — the id tiebreak
      makes the lead assignment among exact-duplicate texts
      deterministic (the r8 duplicate-id lesson, applied ahead of
      the probe this time).
    - exact-duplicate texts ARE flagged (equality is trivial
      containment): each copy's successor is the next copy, so every
      copy but the lexicographically-last is returned.
    - NULL/empty texts are excluded: the empty string is a prefix of
      everything, which is quality filtering's job, not dedup's.

    At 100 TB: shuffle key = the text block; one-char blocking keeps
    correctness with ~alphabet-size partitions."""
    from pyspark.sql import Window

    win = Window.partitionBy(F.substring("text", 1, 1)).orderBy("text", "doc_id")
    base = df.filter(F.col("text").isNotNull() & (F.col("text") != "")).select(
        "doc_id", "text"
    )
    return (
        base.withColumn("__next_text", F.lead("text").over(win))
        .withColumn("__next_id", F.lead("doc_id").over(win))
        .filter(F.col("__next_text").startswith(F.col("text")))
        .select(
            F.col("doc_id").alias("contained_id"),
            F.col("__next_id").alias("container_id"),
        )
        .orderBy("contained_id")
    )


def prefix_contained_sql() -> str:
    """DuckDB twin of :func:`prefix_contained` — the identical window;
    containment via ``starts_with`` (LIKE would treat %/_ in the doc
    text as wildcards)."""
    return """
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND text <> ''
), w AS (
  SELECT doc_id, text,
         lead(text) OVER (PARTITION BY substr(text, 1, 1)
           ORDER BY text NULLS FIRST, doc_id NULLS FIRST) AS __next_text,
         lead(doc_id) OVER (PARTITION BY substr(text, 1, 1)
           ORDER BY text NULLS FIRST, doc_id NULLS FIRST) AS __next_id
  FROM base
)
SELECT doc_id AS contained_id, __next_id AS container_id
FROM w WHERE starts_with(__next_text, text)
ORDER BY contained_id
"""


def band_bucket_profile(df: DataFrame) -> DataFrame:
    """Degenerate-clique diagnostic for :func:`near_dup_pairs_banded`:
    one row profiling the band-bucket population — total buckets, the
    largest bucket, total within-bucket candidate pairs
    (Σ n·(n-1)/2, the self-join's actual work), buckets above
    ``OVERSIZE_BUCKET``, and the candidate pairs those oversize buckets
    would contribute.  An ingest pipeline runs this BEFORE the pair
    join: ``oversize_buckets > 0`` means the corpus is in the
    boilerplate-clique regime and representative-dedup of the flagged
    buckets is the right plan.
    Aggregation is a single partial-agg pass over the band keys —
    no join, safe at any corpus size."""
    _, band_keys = _banded_keys(df)
    per_bucket = band_keys.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    # n·(n-1) is even, so integer DIV is exact (and stays in long —
    # `/` would detour through double)
    pairs = F.expr("__bn * (__bn - 1) DIV 2")
    oversize = F.col("__bn") > OVERSIZE_BUCKET
    return per_bucket.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("__bn").alias("max_bucket_size"),
        F.sum(pairs).cast("bigint").alias("candidate_pairs"),
        F.sum(oversize.cast("bigint")).cast("bigint").alias("oversize_buckets"),
        F.sum(F.when(oversize, pairs).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("oversize_pairs"),
    )


def band_bucket_profile_sql() -> str:
    """DuckDB twin of :func:`band_bucket_profile` (same band constants;
    windowed/plain sums CAST to BIGINT for the driver's pandas view)."""
    rows = NUM_HASHES // BANDS
    gram = ", ".join(f"t[i+{j + 1}]" for j in range(SHINGLE_N))
    sig_entries = ",\n    ".join(
        f"list_aggregate(list_transform(s, x -> md5('{i}:' || x)), 'min')"
        for i in range(NUM_HASHES)
    )
    band_entries = ",\n    ".join(
        "concat_ws('|', '{b}', {parts})".format(
            b=b,
            parts=", ".join(f"g[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) < {SHINGLE_N} THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(range(len(t) - {SHINGLE_N - 1}),
                                           i -> concat_ws(' ', {gram})))
    END AS s
  FROM tok
), sig AS (
  SELECT doc_id, s, [
    {sig_entries}] AS g
  FROM sh WHERE len(s) > 0
), bands0 AS (
  SELECT doc_id, unnest([
    {band_entries}]) AS band_key
  FROM sig
), per_bucket AS (
  SELECT band_key, count(*) AS bn FROM bands0 GROUP BY band_key
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(bn) AS BIGINT) AS max_bucket_size,
       CAST(sum(bn * (bn - 1) // 2) AS BIGINT)
         AS candidate_pairs,
       CAST(sum(CASE WHEN bn > {OVERSIZE_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
         AS oversize_buckets,
       CAST(sum(CASE WHEN bn > {OVERSIZE_BUCKET}
                THEN bn * (bn - 1) // 2 ELSE 0 END) AS BIGINT)
         AS oversize_pairs
FROM per_bucket
"""


def near_dup_banded_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`near_dup_pairs_banded`, generated from the
    same band/hash constants so candidate buckets and Jaccard agree."""
    rows = NUM_HASHES // BANDS
    gram = ", ".join(f"t[i+{j + 1}]" for j in range(SHINGLE_N))
    sig_entries = ",\n    ".join(
        f"list_aggregate(list_transform(s, x -> md5('{i}:' || x)), 'min')"
        for i in range(NUM_HASHES)
    )
    band_entries = ",\n    ".join(
        "concat_ws('|', '{b}', {parts})".format(
            b=b,
            parts=", ".join(f"g[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS t FROM {table}
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) < {SHINGLE_N} THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(range(len(t) - {SHINGLE_N - 1}),
                                           i -> concat_ws(' ', {gram})))
    END AS s
  FROM tok
), sig AS (
  SELECT doc_id, s, [
    {sig_entries}] AS g
  FROM sh WHERE len(s) > 0
), bands0 AS (
  SELECT doc_id, unnest([
    {band_entries}]) AS band_key
  FROM sig
), bands AS (
  SELECT * FROM bands0
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(sa.s, sb.s)) * 1.0
             / len(list_distinct(sa.s || sb.s)), 6) AS jaccard
FROM cands
JOIN sh sa ON sa.doc_id = cands.id_a
JOIN sh sb ON sb.doc_id = cands.id_b
WHERE round(len(list_intersect(sa.s, sb.s)) * 1.0
            / len(list_distinct(sa.s || sb.s)), 6) >= {THRESHOLD}
"""


def near_dup_pairs_ml(df: DataFrame) -> DataFrame:
    """Library formulation of the banded join: ``pyspark.ml.feature.
    MinHashLSH`` + ``approxSimilarityJoin``.

    Shingles → ``HashingTF`` sparse vectors → MinHash OR-amplified
    across 5 tables; the join explodes per-table
    bucket keys and only compares within-bucket rows (same no-all-pairs
    guarantee as :func:`near_dup_pairs_banded`).  Returns
    ``(id_a, id_b, jaccard_dist)`` with ``id_a < id_b``.

    Not ANSI-SQL-expressible (hash family is Spark-internal) — the
    driver records the weaker rows-only check; the banded variant
    carries the full oracle.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = (
        shingled(df, ["doc_id"], out="__sh0")
        .select(
            F.col("doc_id").alias("__id"),
            F.array_distinct(F.col("__sh0")).alias("__sh"),
        )
        .filter(F.size("__sh") > 0)
    )
    tf = HashingTF(inputCol="__sh", outputCol="__features", numFeatures=1 << 18)
    feats = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="__features",
        outputCol="__hashes",
        numHashTables=5,
        seed=42,
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 0.5, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col("datasetA.__id") < F.col("datasetB.__id"))
        .select(
            F.col("datasetA.__id").alias("id_a"),
            F.col("datasetB.__id").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def line_dedup(df: DataFrame, drop_hashes: DataFrame | None = None) -> DataFrame:
    """Corpus-wide LINE/paragraph dedup of ``(doc_id, text)`` (public
    reference: the CCNet
    paragraph-hash dedup, Wenzek et al. arXiv:1911.00359 §3.1, and
    C4's duplicate-span removal, Raffel et al. arXiv:1910.10683
    §2.2): every line of length ≥ 20 may appear ONCE in the
    whole corpus — the first occurrence in ``(doc_id, line_pos)``
    order survives, every other copy is dropped, and each document is
    reassembled from its surviving lines in original order.  This is
    the boilerplate killer (nav bars, cookie banners, license
    headers) that document-level dedup cannot touch.

    Short lines (< 20 chars) are always kept: blank
    separators and one-word lines repeat legitimately, and deduping
    them corpus-wide would tear the formatting out of every document
    after the first.

    Returns ``(id, clean_text, n_kept, n_removed)`` — one row per
    input document (NULL text → NULL ``clean_text``, 0/0 counts).

    ``drop_hashes`` (first column = sha2-256 hex of a line) names
    lines an EXTERNAL corpus already holds: those drop from every
    document unconditionally, before winner election — a new batch
    cannot re-elect a copy of a line the corpus kept.  This is the
    incremental arm the streaming ingest drives
    (:func:`streaming.ingest.stream_line_dedup_to_parquet`).

    Plan shape (100-TB framing): one posexplode; the winner choice is
    a hash aggregate keyed on ``sha2(line)`` carrying only
    ``min(struct(id, pos))`` — 64-char key + 12-byte payload, never
    the line text; the drop set joins back on the hash (Zipf-skewed —
    boilerplate lines are hot keys — AQE skew split applies) and the
    reassembly is one groupBy over ``(id)`` with an in-row
    ``array_sort``.  Survivor = global (id, pos) minimum, so the
    result is partition-layout independent."""
    lines = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), F.lit("\n"))).alias(
            "__pos", "__line"
        ),
    )
    elig = lines.filter(F.length("__line") >= 20).select(
        "doc_id",
        "__pos",
        F.sha2(F.col("__line"), 256).alias("__h"),
    )
    seen_drops = None
    if drop_hashes is not None:
        # lines already present in an external corpus (the streaming
        # ingest's accumulated state) drop unconditionally — BEFORE
        # the winner choice, so a new batch cannot re-elect a copy of
        # a line the corpus already holds
        dh = drop_hashes.select(
            F.col(drop_hashes.columns[0]).alias("__h")
        ).distinct()
        seen_drops = elig.join(dh, on="__h", how="left_semi").select(
            "doc_id", "__pos"
        )
        elig = elig.join(dh, on="__h", how="left_anti")
    winners = elig.groupBy("__h").agg(
        F.min(F.struct(F.col("doc_id"), F.col("__pos"))).alias("__w")
    )
    drops = (
        elig.join(winners, on="__h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("__w")["doc_id"])
                & (F.col("__pos") == F.col("__w.__pos"))
            )
        )
        .select("doc_id", "__pos")
    )
    if seen_drops is not None:
        drops = drops.unionByName(seen_drops)
    kept = lines.join(drops, on=["doc_id", "__pos"], how="left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda x: x["__line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), F.lit("\n"))).alias("__nl"),
    )
    return (
        base.join(reassembled, on="doc_id", how="left")
        .select(
            "doc_id",
            "clean_text",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (
                F.coalesce(F.col("__nl"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
        )
    )


def line_dedup_sql() -> str:
    """DuckDB twin of :func:`line_dedup` — same keep-first winner
    (row_number over (line, ordered by doc, pos)), same short-line
    exemption, same reassembly order."""
    return """
WITH base AS (
  SELECT doc_id, str_split(text, chr(10)) AS ls FROM documents
), lines AS (
  SELECT doc_id, i.i - 1 AS pos, ls[i.i] AS line
  FROM base, LATERAL unnest(generate_series(1, len(ls))) AS i(i)
), marked AS (
  SELECT doc_id, pos, line,
         CASE WHEN length(line) >= 20 THEN row_number() OVER (
           PARTITION BY sha256(line) ORDER BY doc_id, pos
         ) ELSE 1 END AS rn
  FROM lines
), kept AS (
  SELECT doc_id, pos, line FROM marked WHERE rn = 1
), reassembled AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, r.clean_text,
       COALESCE(r.n_kept, 0) AS n_kept,
       CAST(COALESCE(len(b.ls), 0) - COALESCE(r.n_kept, 0) AS BIGINT)
         AS n_removed
FROM base b LEFT JOIN reassembled r ON b.doc_id = r.doc_id
"""
