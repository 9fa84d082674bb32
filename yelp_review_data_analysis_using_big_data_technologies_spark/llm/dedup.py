"""Deduplication operators for document corpora (SURVEY.md §2.12).

Four escalating strategies, all shuffle-on-a-small-key — the dedup
work is always partitioned by a content-derived bucket, never an
all-pairs comparison:

- :func:`exact_dedup` — hash-groupBy on ``sha2(text, 256)``.
- :func:`near_dup_pairs_banded` — banded MinHash LSH: signature →
  band keys → bucket self-join → exact Jaccard verification.
- :func:`simhash` / :func:`simhash_buckets` — bit-majority SimHash
  histogram; equal values ⇒ near-identical token multisets.
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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import spread, stage
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.text import (
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

#: SimHash width in bits.  16 keeps the generated expression (one
#: aggregate per bit) readable while exercising the full algorithm;
#: widen to 64 for production collision rates.
SIMHASH_BITS = 16


def content_hash(text: Column | str) -> Column:
    """Stable content key: ``sha2(text, 256)`` (lowercase hex in both
    Spark and DuckDB)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.sha2(c, 256)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Exact dedup on the content hash: one hash aggregate partitioned
    by ``sha2(text)``, survivor = minimal ``id_col`` (deterministic,
    oracle-checkable).  At 100 TB this shuffles one 64-char key plus
    the surviving row per group — never the full corpus width twice."""
    hashed = df.withColumn(hash_col, content_hash(text_col))
    return dedup_keyed_deterministic(
        hashed, keys=[hash_col], tiebreak=[id_col]
    )


def band_key_array(sig_col, num_hashes: int, bands: int):
    """The ``bands`` LSH bucket keys derived from a MinHash signature
    array column, as one array expression — THE shared definition of
    how a signature becomes band keys (the self-join staging, the
    delta-vs-corpus join, and the streaming ingest's persisted index
    all call this; a band-layout change cannot silently diverge
    them)."""
    rows = num_hashes // bands
    assert rows * bands == num_hashes, "bands must divide num_hashes"
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[sig_col[b * rows + r] for r in range(rows)],
            )
            for b in range(bands)
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


def _banded_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH staging for the self-join and the delta-vs-corpus
    join: returns ``(base, band_keys)`` where ``base`` is the staged
    ``(__id, __sh, __sz)`` shingle-set relation (empty-shingle docs
    dropped — they can never verify and their all-NULL band keys
    collide quadratically) and ``band_keys`` is the exploded
    ``(__id, band_key)`` relation."""
    rows = num_hashes // bands
    assert rows * bands == num_hashes, "bands must divide num_hashes"
    # ``spread`` the narrow (id, text) source first: off a one-row-group
    # scan the shingle+signature build otherwise runs as a single task
    # (measured 5.8 s of the 5.9 s query at sf0.1) — and a bare
    # repartition doesn't help because the size>0 filter pushdown drags
    # the computing projection back below the exchange.  No-op at
    # warehouse scale (input splits already ≥ cluster parallelism).
    src = spread(df.select(F.col(id_col), F.col(text_col)))
    base = stage(
        shingled(src, [id_col], text_col, shingle_n, out="__sh0")
        .select(
            F.col(id_col).alias("__id"),
            F.array_distinct(F.col("__sh0")).alias("__sh"),
        )
        .filter(F.size("__sh") > 0)
        .withColumn("__sig", minhash_signature_from(F.col("__sh"), num_hashes))
        .withColumn("__sz", F.size("__sh"))
    )
    band_keys = base.select(
        "__id",
        F.explode(
            band_key_array(F.col("__sig"), num_hashes, bands)
        ).alias("band_key"),
    )
    return base, band_keys


def near_dup_pairs_banded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded MinHash LSH near-duplicate pair join.

    1. Per doc: distinct word ``shingle_n``-gram shingles + a
       ``num_hashes``-wide MinHash signature over them.
    2. Split the signature into ``bands`` bands of ``num_hashes //
       bands`` rows; each band hashes to a bucket key.  Probability a
       pair shares ≥1 band ≈ 1-(1-J^r)^b — the classic S-curve.
    3. Self-join on the band key (shuffle partitioned by bucket — the
       only join, and it only ever compares within-bucket docs; no
       all-pairs crossJoin at any scale).
    4. Verify candidates with EXACT Jaccard over the shingle sets and
       keep pairs ≥ ``threshold``.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    **Degenerate-clique regime** (measured,
    scripts/measure_lsh_clique.py at c84e9fc):
    within-bucket work is Σ bucket², so a boilerplate-heavy corpus
    where a large fraction of docs is ONE near-dup clique (same
    template, tiny edits — exact-dedup-proof) degrades to clique²
    candidate pairs no matter how the buckets are keyed; that is a
    property of PAIR ENUMERATION, not of this plan.  ``max_bucket``
    is the ngram ``max_df``-style mitigation: band buckets holding
    more than that many docs are dropped before the self-join
    (mirrored in the SQL twin), bounding candidates at
    ``Σ min(bucket, max_bucket)²``.  Dropped buckets are giant
    near-dup cliques by construction — at scale you do not want
    their Θ(clique²) pairs; route them to
    :func:`band_bucket_profile` for detection and collapse them with
    exact/representative dedup instead.  Default ``None`` (off)
    keeps pair-complete semantics for corpora known to be
    boilerplate-light (the clean-pipeline entries run exact dedup
    first, which removes the worst case).
    """
    # Shingles/signatures build ONCE and persist via the staging
    # registry (callers release after materialization): the plan
    # references the staged relation three times (band explode + both
    # verification sides); at warehouse scale it's a staging table.
    base, band_keys = _banded_keys(
        df, id_col, text_col, num_hashes, bands, shingle_n
    )
    if max_bucket is not None:
        kept = (
            band_keys.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band_key")
        )
        band_keys = band_keys.join(kept, on="band_key")
    return verified_pairs_from(base, band_keys, threshold)


def verified_pairs_from(
    base: DataFrame, band_keys: DataFrame, threshold: float
) -> DataFrame:
    """Band-bucket self-join + exact-Jaccard verification over
    PREBUILT features: ``base`` carries ``(__id, __sh, __sz)``,
    ``band_keys`` carries ``(__id, band_key)`` exploded.  Returns
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` — the verification
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
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def dedup_against_corpus(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL-ingest dedup: admit only ``delta`` rows that are
    neither exact nor near (banded-LSH, ≥ ``threshold``) duplicates of
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
    dh = content_hash(text_col)
    corpus_hashes = corpus.select(dh.alias("__h")).distinct()
    exact_ok = (
        delta.withColumn("__h", dh)
        .join(corpus_hashes, on="__h", how="left_anti")
        .drop("__h")
    )

    cbase, ckeys = _banded_keys(
        corpus, id_col, text_col, num_hashes, bands, shingle_n
    )
    dbase, dkeys = _banded_keys(
        delta, id_col, text_col, num_hashes, bands, shingle_n
    )
    matched = match_banded_candidates(
        dbase, dkeys, cbase, ckeys, id_col, threshold
    )
    return exact_ok.join(matched, on=id_col, how="left_anti")


def match_banded_candidates(
    dbase: DataFrame,
    dkeys: DataFrame,
    cbase: DataFrame,
    ckeys: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Delta ids with ≥1 corpus candidate (shared band key) verifying
    at Jaccard ≥ ``threshold`` — THE matched-candidates predicate,
    shared by :func:`dedup_against_corpus` (recompute mode) and the
    indexed streaming ingest so the two modes cannot silently diverge.
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
            jaccard_rounded("sh_d", "sz_d", "sh_c", "sz_c") >= threshold
        )
        .select(F.col("__did").alias(id_col))
        .distinct()
    )


def _jaccard_postings(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Staged raw ``(__id, __s)`` distinct-shingle postings — the
    shared tokenization leg of the base/prefix/auto Jaccard joins (the
    auto dispatcher builds it ONCE and hands it to whichever plan the
    profile picks, so regime selection never re-tokenizes)."""
    return stage(
        shingled(
            spread(df.select(F.col(id_col), F.col(text_col))),
            [id_col],
            text_col,
            shingle_n,
            out="__sh0",
        ).select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(F.col("__sh0"))).alias("__s"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    postings: DataFrame | None = None,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle
    index — the deterministic complement to the probabilistic MinHash
    band join.

    Plan: explode distinct shingles into (shingle, id) postings,
    self-join postings ON THE SHINGLE (shuffle key = shingle; a pair
    is only ever compared if it shares one), count shared shingles per
    pair, and compute ``J = |A∩B| / (|A|+|B|-|A∩B|)`` from
    pre-aggregated set sizes.  Candidate work is Σ posting-list², so
    ``max_df`` drops shingles appearing in more than that many docs —
    boilerplate shingles both blow up the join quadratically and carry
    no near-dup signal (a pair sharing ONLY ultra-common shingles is
    not a near-duplicate).  With ``max_df`` set, sizes and Jaccard are
    computed over the retained shingle space (documented, mirrored in
    the SQL twin).  ``postings`` accepts a prebuilt staged
    ``(__id, __s)`` relation from :func:`_jaccard_postings` (the auto
    dispatcher's no-retokenize handoff); ``dfreq`` accepts the staged
    retained ``(__s, __df)`` document-frequency relation the
    dispatcher's profile already aggregated (r16 opt, guide §2.4 —
    two consumers keyed the same way share ONE aggregate; the rows
    are identical to recomputing it here).
    """
    # Persist the RAW postings before anything touches them (via the
    # staging registry — callers release after materialization): the
    # plan references the posting relation four times (df-cut
    # aggregate, both sides of the self-join, the size aggregate) and
    # re-tokenizing the corpus per reference dominates runtime.  At
    # warehouse scale this is a staging table.
    sh = (
        postings
        if postings is not None
        else _jaccard_postings(df, id_col, text_col, shingle_n)
    )
    if dfreq is not None:
        sh = stage(sh.join(dfreq.select("__s"), on="__s"))
    elif max_df is not None:
        kept = (
            sh.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__s")
        )
        # Stage the FILTERED postings too (r16 opt, guide §1.2): the
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
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_sql(
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_pairs` (same shingling,
    same ``max_df`` cut, same size bookkeeping)."""
    toks = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    parts = ", ".join(f"{toks}[i+{j + 1}]" for j in range(shingle_n))
    df_cut = (
        f"HAVING count(*) <= {max_df}" if max_df is not None else ""
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, unnest(list_transform(
    range(len({toks}) - {shingle_n - 1}),
    i -> concat_ws(' ', {parts}))) AS s
  FROM {table} WHERE len({toks}) >= {shingle_n}
), kept AS (
  SELECT s FROM sh GROUP BY s {df_cut}
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
WHERE round(c * 1.0 / (sa.sz + sb.sz - c), 6) >= {threshold}
"""


def ngram_jaccard_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """CROSS-CORPUS exact n-gram Jaccard join (the R-S form of
    :func:`ngram_jaccard_pairs`): pairs ``(id_l, id_r, jaccard)`` with
    ``id_l`` from ``left`` and ``id_r`` from ``right`` at Jaccard ≥
    ``threshold`` — the audit surface for "which docs of the new crawl
    near-duplicate which docs of the reference corpus" (admission
    decisions are :func:`dedup_against_corpus`; THIS returns the pairs
    themselves, with scores, for review/reporting).

    Plan: one staged posting relation PER SIDE (each side tokenizes
    once), a left×right equi-join ON THE SHINGLE — candidates are
    Σ_s df_L(s)·df_R(s), never |L|·|R| — and Jaccard from
    pre-aggregated per-side sizes.  ``max_df`` caps a shingle's TOTAL
    occurrences across both sides (boilerplate shared across corpora
    is exactly what blows the cross join up); sizes and Jaccard are
    computed over the retained space, mirroring the self-join's
    documented semantics.  No id ordering constraint: the sides are
    different corpora (the same id may legitimately appear in both),
    so every qualifying (left, right) pair is emitted once."""
    shl = _jaccard_postings(left, id_col, text_col, shingle_n)
    shr = _jaccard_postings(right, id_col, text_col, shingle_n)
    if max_df is not None:
        kept = (
            shl.select("__s")
            .unionAll(shr.select("__s"))
            .groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
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
        .filter(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    )


def ngram_jaccard_join_sql(
    left_rel: str,
    right_rel: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_join` — ``left_rel`` /
    ``right_rel`` are table names or parenthesized subqueries."""
    toks = f"regexp_split_to_array({text_col}, '[ \\t\\n\\x0B\\f\\r]+')"
    parts = ", ".join(f"{toks}[i+{j + 1}]" for j in range(shingle_n))
    df_cut = f"HAVING count(*) <= {max_df}" if max_df is not None else ""
    posting = (
        f"SELECT DISTINCT {id_col} AS id, unnest(list_transform("
        f"range(len({toks}) - {shingle_n - 1}), "
        f"i -> concat_ws(' ', {parts}))) AS s "
        f"FROM {{rel}} WHERE len({toks}) >= {shingle_n}"
    )
    return f"""
WITH shl AS ({posting.format(rel=left_rel)}
), shr AS ({posting.format(rel=right_rel)}
), kept AS (
  SELECT s FROM (SELECT s FROM shl UNION ALL SELECT s FROM shr)
  GROUP BY s {df_cut}
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
WHERE round(c * 1.0 / (szl.sz + szr.sz - c), 6) >= {threshold}
"""


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    postings: DataFrame | None = None,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` with PPJoin-style PREFIX FILTERING
    (Chaudhuri et al. ICDE 2006; Xiao et al. TODS 2011) — identical
    output, candidate generation bounded by prefixes instead of whole
    posting lists.

    Construction: order every document's shingles by one GLOBAL total
    order (document frequency ascending, shingle ascending — rare
    shingles first, so prefixes index the least-shared tokens), and
    put only each document's first ``|x| - ceil(t·|x|) + 1`` shingles
    into the inverted index.  Any pair with ``J >= t`` must overlap by
    ``alpha = ceil(t/(1+t)·(|x|+|y|))`` shingles, and for every
    size-feasible pair (``|y| >= t·|x|``, a necessary condition for
    ``J >= t``) this alpha is at least ``ceil(t·|x|)``, so the
    conservative prefix is longer than the classic ``|x| - alpha + 1``
    bound requires — prefixes of BOTH members intersect and no result
    pair is lost.  Candidates then verify EXACTLY against the full
    posting lists, so the output (ids, rounded Jaccard) is
    bit-identical to the unfiltered operator — the driver twin for
    this entry IS :func:`ngram_jaccard_sql`, same as the base join.

    At 100 TB the difference is the self-join's candidate volume: the
    plain posting join pays Σ df² over ALL retained shingles, the
    prefix join only over prefix postings — at t=0.5 half of each
    document's shingles (the commonest half) never enter the join
    (``scripts/measure_prefix_jaccard.py`` at c84e9fc: 90.9% fewer candidates
    and a faster wall on a Zipf-ish corpus).  The trade is two fixed
    extra passes (the per-doc ranking window and the candidate-verify
    joins), so on corpora where Σ df² is already small — low
    thresholds, tiny vocabularies, aggressive ``max_df`` — the base
    operator is cheaper (the sf0.1 bench fixture is exactly that
    regime: t=0.3 keeps 70% of each doc in the prefix, so the cut
    cannot pay for the ranking pass).  Pick by regime — or let
    :func:`ngram_jaccard_pairs_auto` pick from the one-pass candidate
    profile; both return identical rows.  ``max_df`` stays as the
    boilerplate backstop; sizes and Jaccard are computed over the
    retained-shingle space exactly as in the base operator.
    ``postings`` accepts a prebuilt staged ``(__id, __s)`` relation
    from :func:`_jaccard_postings`.
    """
    sh = (
        postings
        if postings is not None
        else _jaccard_postings(df, id_col, text_col, shingle_n)
    )
    if dfreq is None:
        dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
        if max_df is not None:
            dfreq = dfreq.filter(F.col("__df") <= max_df)
    # staged (r16 opt, guide §1.2): read three times — the ranking
    # window plus both candidate-verify sides; see ngram_jaccard_pairs
    sh = stage(sh.join(dfreq, on="__s"))
    # sizes over the retained space (same bookkeeping as the base op);
    # window count avoids a second aggregate+join over the postings
    w_doc = Window.partitionBy("__id")
    w_ord = Window.partitionBy("__id").orderBy("__df", "__s")
    ranked = sh.select(
        "__id",
        "__s",
        F.count(F.lit(1)).over(w_doc).alias("__sz"),
        F.row_number().over(w_ord).alias("__rn"),
    )
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
    ).select("__id", "__s", "__sz")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="__s")
        .filter(
            (F.col("a.__id") < F.col("b.__id"))
            # size feasibility both ways: |y| >= t|x| is necessary for
            # J >= t, and cutting infeasible pairs here keeps the
            # verify join from paying for them
            & (F.col("b.__sz") >= F.lit(threshold) * F.col("a.__sz"))
            & (F.col("a.__sz") >= F.lit(threshold) * F.col("b.__sz"))
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sz").alias("__sza"),
            F.col("b.__sz").alias("__szb"),
        )
        .distinct()
    )
    pa = sh.select(F.col("__id").alias("id_a"), "__s")
    pb = sh.select(F.col("__id").alias("id_b"), "__s")
    shared = (
        cand.join(pa, on="id_a")
        .join(pb, on=["id_b", "__s"])
        .groupBy("id_a", "id_b", "__sza", "__szb")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("__c") / (F.col("__sza") + F.col("__szb") - F.col("__c")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_candidate_profile(
    postings: DataFrame,
    threshold: float,
    max_df: int | None = 1000,
    dfreq: DataFrame | None = None,
) -> dict[str, int]:
    """One-pass-per-plan candidate-volume predictor over staged raw
    postings: the EXACT pre-dedup candidate-pair counts the base and
    prefix self-joins would generate — ``Σ df·(df−1)/2`` over retained
    shingles for the base plan, the same sum over PREFIX postings for
    the PPJoin plan — without running either join.  The self-join's
    candidate volume is the quadratic term that dominates both plans
    at scale; the profile costs two skinny aggregates (plus the same
    per-doc ranking window the prefix plan would run anyway), so
    deciding is ~linear while being wrong is quadratic.  Returns
    driver-side scalars (a bounded 2-value collect, same class as the
    LSH ``band_bucket_profile`` pre-flight).

    ``dfreq`` accepts the STAGED retained ``(__s, __df)`` relation so
    the dispatcher can share one df aggregate between this profile
    and whichever plan wins (r16 opt).  The two plan sums are
    unioned into ONE 2-row collect — one driver job instead of two
    serial ones; identical integers either way (the union branches
    are the exact same aggregates)."""
    if dfreq is None:
        dfreq = postings.groupBy("__s").agg(
            F.count(F.lit(1)).alias("__df")
        )
        if max_df is not None:
            dfreq = dfreq.filter(F.col("__df") <= max_df)
    pair_sum = F.sum(
        (F.col("__df") * (F.col("__df") - 1) / 2).cast("bigint")
    )
    full_agg = dfreq.agg(pair_sum.alias("n")).select(
        F.lit("full").alias("plan"), "n"
    )
    f = postings.join(dfreq, on="__s")
    ranked = f.select(
        "__id",
        "__s",
        F.count(F.lit(1)).over(Window.partitionBy("__id")).alias("__sz"),
        F.row_number()
        .over(Window.partitionBy("__id").orderBy("__df", "__s"))
        .alias("__rn"),
    )
    prefix_agg = (
        ranked.filter(
            F.col("__rn")
            <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
        )
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .agg(pair_sum.alias("n"))
        .select(F.lit("prefix").alias("plan"), "n")
    )
    counts = {
        r["plan"]: r["n"] or 0
        for r in full_agg.unionByName(prefix_agg).collect()
    }
    return {
        "candidates_full": int(counts["full"]),
        "candidates_prefix": int(counts["prefix"]),
    }


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    prefer_ratio: float = 2.0,
) -> DataFrame:
    """Regime-selected exact n-gram Jaccard pairs: tokenize ONCE
    (staged postings shared with whichever plan wins), run the
    candidate profile, and dispatch to the PPJoin prefix plan only
    when it predicts at least a ``prefer_ratio``-fold candidate cut —
    the margin that pays for the prefix plan's two fixed extra passes
    (the per-doc ranking window and the candidate-verify joins).

    Measured (scripts/measure_prefix_jaccard.py at c84e9fc, local[32]): the
    profile's predictions are EXACT — on the Zipf-ish favorable corpus
    (3000 docs, vocab 50, t=0.5) predicted = measured 1,004,428 vs
    91,356 candidates (an 11.0× cut → prefix chosen); on a
    rare-shingle corpus (vocab 2000, t=0.3) predicted = measured
    15,447 vs 10,906 (1.42× → base chosen).  At toy scale both walls
    are scheduling-bound (~6 s each) — the candidate volume is the
    term that diverges quadratically at 100 TB, which is why the
    dispatcher keys on it and not on a wall estimate; the sf0.1 bench
    already shows the base plan ~2× cheaper in the unfavorable regime
    (doc_ngram_jaccard_prefix 7.7–8.4 s vs the base's ~4 s).
    ``prefer_ratio=2`` splits the measured regimes with headroom on
    both sides; the regime TEST pins the choice on both shapes
    (tests/test_prefix_jaccard.py).

    Output is identical rows either way (both plans verify exactly),
    so the driver twin is :func:`ngram_jaccard_sql` regardless of the
    plan chosen.

    Dispatch cost: the profile is LINEAR (a df aggregate + the same
    per-doc ranking window the prefix plan runs), measured ~2 s of
    stage-scheduling overhead at sf0.1 local — noise against the
    quadratic join term the decision protects at scale.  There is no
    sound cheaper skip: any posting-fraction heuristic (prefixes keep
    ~(1−t) of postings → estimate the cut as f²) is defeated by the
    viral-shingle regime, where f ≈ 0.77 yet the true cut is ~875×
    because the rare-first prefix excludes exactly the shingle owning
    the df² mass (scripts/measure_viral_shingle.py at c84e9fc).  Callers that
    know their regime call the base/prefix operator directly.

    r16 opt (guide §2.4): the retained ``(__s, __df)`` aggregate is
    staged ONCE and shared by the profile AND the chosen plan — the
    base plan's ``kept`` semi-join and the prefix plan's df join are
    the same relation the profile already computed, so dispatching no
    longer costs an extra full df aggregate over the postings; the
    profile's two plan sums collect in one 2-row job.  Same counts,
    same dispatch decision, identical output rows."""
    sh = _jaccard_postings(df, id_col, text_col, shingle_n)
    dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("__df") <= max_df)
    dfreq = stage(dfreq)
    prof = ngram_jaccard_candidate_profile(
        sh, threshold, max_df, dfreq=dfreq
    )
    use_prefix = prof["candidates_full"] > prefer_ratio * max(
        prof["candidates_prefix"], 1
    )
    op = ngram_jaccard_pairs_prefix if use_prefix else ngram_jaccard_pairs
    return op(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        max_df=max_df,
        postings=sh,
        dfreq=dfreq,
    )


def _hex4_to_int(hexstr: Column) -> Column:
    """First-4-hex-chars → int via ``instr`` arithmetic — portable to
    engines without ``conv(x, 16, 10)``."""
    out = F.lit(0)
    for pos, weight in ((1, 4096), (2, 256), (3, 16), (4, 1)):
        digit = F.instr(F.lit(_HEX), F.substring(hexstr, pos, 1)) - 1
        out = out + digit * F.lit(weight)
    return out


def simhash(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """Bit-majority SimHash over whitespace tokens.

    Each token hashes to a ``bits``-bit value (md5 prefix); output bit
    j is set iff the majority of token hashes have bit j set
    (``2 * sum(bit_j) > n_tokens``).  Near-identical token multisets
    produce equal (or Hamming-close) values.  Pure arithmetic over
    higher-order functions — portable to the SQL oracle.
    """
    tks = tokens(text)
    vals = F.transform(tks, lambda t: _hex4_to_int(F.md5(t)))
    n = F.size(vals)

    def bit_sum(j: int) -> Column:
        # Two-parameter lambdas are index-taking in pyspark HOFs; the
        # lambda runs eagerly, so closing over j is safe.
        return F.aggregate(
            vals,
            F.lit(0),
            lambda acc, v: acc + F.floor(v / F.lit(2**j)).cast("int") % 2,
        )

    out = F.lit(0)
    for j in range(bits):
        out = out + F.when(bit_sum(j) * 2 > n, F.lit(2**j)).otherwise(F.lit(0))
    return out


def simhash_buckets(
    df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash histogram: bucket value → doc count (buckets with
    count > 1 are near-dup groups).  One hash aggregate on a
    ``bits``-bit integer key.

    The default 16-bit hash equals word 0 of :func:`simhash_words`, so
    it rides the staged one-md5-pass builder; other widths fall back
    to the inline expression (oracle-parity path).  NULL-text docs are
    excluded on both paths (and in the SQL twin): the staged word
    array null-propagates while the inline/oracle coalesce folds NULL
    to bucket 0 — the three answers disagreed, and a "bucket" of
    no-content docs is a near-dup group of nothing anyway."""
    df = df.filter(F.col(text_col).isNotNull())
    if bits == 16:
        hashed = with_simhash_words(
            spread(df.select(F.col(text_col))),
            [],
            text_col,
            n_words=1,
            bits_per_word=16,
        ).select(F.col("__w")[0].alias("simhash"))
    else:
        hashed = df.select(simhash(text_col, bits).alias("simhash"))
    return hashed.groupBy("simhash").agg(F.count(F.lit(1)).alias("n_docs"))


def simhash_sql(text_expr: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of :func:`simhash` for oracle checks — generated
    from the same constants so both engines compute bit-for-bit the
    same value."""
    tok = f"regexp_split_to_array({text_expr}, '[ \\t\\n\\x0B\\f\\r]+')"
    digit = (
        lambda pos, w: f"(instr('{_HEX}', substr(md5(t), {pos}, 1)) - 1) * {w}"
    )
    val = " + ".join(digit(p, w) for p, w in ((1, 4096), (2, 256), (3, 16), (4, 1)))
    vals = f"list_transform({tok}, t -> {val})"
    terms = []
    for j in range(bits):
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


def simhash_words(
    text: Column | str,
    n_words: int = SIMHASH_WORDS,
    bits_per_word: int = 16,
) -> Column:
    """64-bit SimHash as an array of ``n_words`` × ``bits_per_word``-bit
    words.  Token hash = the first ``4 * n_words`` hex chars of
    ``md5(token)``; output bit j is set iff the majority of token
    hashes set bit j.

    One ``aggregate`` pass per word with an array accumulator (the
    per-bit partial sums), NOT one array scan per bit — 4 passes for
    64 bits instead of 64.  All codegen'd higher-order functions, no
    Python boundary.
    """
    tks = tokens(text)
    n = F.size(tks)
    powers = F.array(*[F.lit(2**j) for j in range(bits_per_word)])
    words = []
    for w in range(n_words):
        vals = F.transform(
            tks, lambda t: _hex4_to_int(F.substring(F.md5(t), 4 * w + 1, 4))
        )
        bit_sums = F.aggregate(
            vals,
            F.array_repeat(F.lit(0), bits_per_word),
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


def simhash_words_sql(
    text_expr: str,
    n_words: int = SIMHASH_WORDS,
    bits_per_word: int = 16,
) -> str:
    """DuckDB twin of :func:`simhash_words` — straightforward per-bit
    ``list_sum`` formulation (the oracle optimizes for obviousness, not
    speed), generated from the same constants so the words agree
    bit-for-bit."""
    tok = f"regexp_split_to_array({text_expr}, '[ \\t\\n\\x0B\\f\\r]+')"
    words = []
    for w in range(n_words):
        digit = (
            lambda pos, wt: f"(instr('{_HEX}', substr(md5(t), {4 * w + pos}, 1)) - 1) * {wt}"
        )
        val = " + ".join(
            digit(p, wt) for p, wt in ((1, 4096), (2, 256), (3, 16), (4, 1))
        )
        vals = f"list_transform({tok}, t -> {val})"
        terms = []
        for j in range(bits_per_word):
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
    text_col: str = "text",
    n_words: int = SIMHASH_WORDS,
    bits_per_word: int = 16,
    out: str = "__w",
) -> DataFrame:
    """Corpus-scale staged SimHash: tokenize and md5 ONCE per token in
    their own projections (the two-projection staging shape Catalyst
    leaves uncollapsed — an md5 array inlined into the per-word
    lambdas would re-hash every token once per word, the same
    subexpression-elimination trap as ``llm.text.shingled``), then
    derive each word from the bound hash column with cheap hex
    arithmetic.  Returns ``keep_cols`` + the ``out`` word array —
    same values as :func:`simhash_words`, one md5 pass instead of
    ``n_words``."""
    tok, hcol, ncol = "__tk_sh", "__h_sh", "__n_sh"
    staged = df.select(*keep_cols, tokens(text_col).alias(tok))
    hashed = staged.select(
        *keep_cols,
        F.transform(tok, F.md5).alias(hcol),
        F.size(F.col(tok)).alias(ncol),
    )
    powers = F.array(*[F.lit(2**j) for j in range(bits_per_word)])
    n = F.col(ncol)
    words = []
    for w in range(n_words):
        vals = F.transform(
            F.col(hcol),
            lambda h: _hex4_to_int(F.substring(h, 4 * w + 1, 4)),
        )
        bit_sums = F.aggregate(
            vals,
            F.array_repeat(F.lit(0), bits_per_word),
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
    return hashed.select(*keep_cols, F.array(*words).alias(out))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_words: int = SIMHASH_WORDS,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs with Hamming-band candidate
    generation — real near-dups differ by a few BITS, so exact-value
    grouping (:func:`simhash_buckets`) misses them.

    1. 64-bit SimHash per doc as ``n_words`` 16-bit words.
    2. Band explode: (word_index, word_value) keys.  Pigeonhole: any
       pair within Hamming distance ``n_words - 1`` agrees exactly on
       at least one word, so recall is EXACT for
       ``max_hamming <= n_words - 1`` (the default 3 with 4 words).
    3. Self-join on the band key (shuffle key = the band — candidates
       only ever compare within a band bucket, no all-pairs).
    4. Verify with the exact Hamming distance
       ``Σ bit_count(xor(word_a, word_b))``; keep ``<= max_hamming``.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    NULL documents never participate (explicit filter): a NULL text
    has no content to be "near" anything.  Without the filter the two
    engines silently disagree — Spark's word array is ``[NULL × 4]``
    (null join keys → dropped by accident), while the SQL twin's
    ``coalesce`` folds every NULL doc to words ``[0 × 4]`` → one giant
    Hamming-0 clique (caught by tests/test_null_injection.py).
    """
    assert max_hamming <= n_words - 1, (
        "banded recall is only exact for max_hamming <= n_words - 1"
    )
    # Staged hash (one md5 pass) + staging-registry persist: the plan
    # references this relation three times (band explode + both sides
    # of the Hamming verification join).
    base = stage(
        with_simhash_words(
            spread(
                df.select(F.col(id_col), F.col(text_col)).filter(
                    F.col(text_col).isNotNull()
                )
            ),
            [id_col],
            text_col,
            n_words,
        ).select(F.col(id_col).alias("__id"), F.col("__w"))
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
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dup_sql(
    n_words: int = SIMHASH_WORDS,
    max_hamming: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`simhash_near_dup_pairs` (same words, same
    bands, same Hamming verification, same NULL-doc exclusion)."""
    words = simhash_words_sql(text_col, n_words)
    ham = " + ".join(
        f"bit_count(xor(ha.w[{i + 1}], hb.w[{i + 1}]))" for i in range(n_words)
    )
    return f"""
WITH h AS (
  SELECT {id_col} AS id, {words} AS w FROM {table}
  WHERE {text_col} IS NOT NULL
), bands AS (
  SELECT id, unnest(range({n_words})) AS band, unnest(w) AS wv FROM h
), cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.wv = b.wv
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming
FROM cands
JOIN h ha ON ha.id = cands.id_a
JOIN h hb ON hb.id = cands.id_b
WHERE {ham} <= {max_hamming}
"""


def near_dup_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **banded_kwargs,
) -> DataFrame:
    """End-to-end near-dup REMOVAL: detect pairs with the banded LSH
    join, then anti-join away every ``id_b`` (the larger id of each
    pair).  Greedy keep-smallest-id canonicalization: for a clique of
    near-dups only the minimum id survives; for chains (A~B, B~C,
    A≁C) the survivors are the non-dominated ids — the standard
    single-pass approximation used when full connected components
    aren't worth a fixpoint loop.  One anti-join on the id — the
    corpus itself never shuffles wide."""
    pairs = near_dup_pairs_banded(df, id_col=id_col, text_col=text_col, **banded_kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def prefix_contained(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_chars: int = 1,
) -> DataFrame:
    """Prefix-containment dedup (the cheap exact-substring class): every
    doc whose FULL text is a prefix of another doc — truncated
    re-crawls, paginated shards, streaming cut-offs.  Returns
    ``(id, container_id)`` where the doc's text is a prefix of (or
    equal to) the container's.

    The trick is lexicographic: if A is a prefix of B, every string
    sorted between them also starts with A — so A is contained in
    SOMETHING iff A's IMMEDIATE SUCCESSOR in text order starts with A.
    One sorted-neighborhood window, no pair join, no index:

    - window PARTITION BY the first ``block_chars`` chars (a nonempty
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
    correctness with ~alphabet-size partitions, so for real corpora
    raise ``block_chars`` (docs shorter than the block are a bounded
    short-doc side handled by exact dedup) — documented dial, same
    trade-off family as the ngram df-cap."""
    from pyspark.sql import Window

    win = Window.partitionBy(
        F.substring(F.col(text_col), 1, block_chars)
    ).orderBy(text_col, id_col)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.col(text_col) != "")
    ).select(F.col(id_col), F.col(text_col))
    return (
        base.withColumn("__next_text", F.lead(text_col).over(win))
        .withColumn("__next_id", F.lead(id_col).over(win))
        .filter(F.col("__next_text").startswith(F.col(text_col)))
        .select(
            F.col(id_col).alias("contained_id"),
            F.col("__next_id").alias("container_id"),
        )
        .orderBy("contained_id")
    )


def prefix_contained_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    block_chars: int = 1,
) -> str:
    """DuckDB twin of :func:`prefix_contained` — the identical window;
    containment via ``starts_with`` (LIKE would treat %/_ in the doc
    text as wildcards)."""
    return f"""
WITH base AS (
  SELECT {id_col}, {text_col} FROM {table}
  WHERE {text_col} IS NOT NULL AND {text_col} <> ''
), w AS (
  SELECT {id_col}, {text_col},
         lead({text_col}) OVER (PARTITION BY substr({text_col}, 1, {block_chars})
           ORDER BY {text_col} NULLS FIRST, {id_col} NULLS FIRST) AS __next_text,
         lead({id_col}) OVER (PARTITION BY substr({text_col}, 1, {block_chars})
           ORDER BY {text_col} NULLS FIRST, {id_col} NULLS FIRST) AS __next_id
  FROM base
)
SELECT {id_col} AS contained_id, __next_id AS container_id
FROM w WHERE starts_with(__next_text, {text_col})
ORDER BY contained_id
"""


def band_bucket_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Degenerate-clique diagnostic for :func:`near_dup_pairs_banded`:
    one row profiling the band-bucket population — total buckets, the
    largest bucket, total within-bucket candidate pairs
    (Σ n·(n-1)/2, the self-join's actual work), buckets above
    ``max_bucket``, and the candidate pairs those oversize buckets
    would contribute.  An ingest pipeline runs this BEFORE the pair
    join: ``oversize_buckets > 0`` means the corpus is in the
    boilerplate-clique regime and the capped join (or
    representative-dedup of the flagged buckets) is the right plan.
    Aggregation is a single partial-agg pass over the band keys —
    no join, safe at any corpus size."""
    _, band_keys = _banded_keys(
        df, id_col, text_col, num_hashes, bands, shingle_n
    )
    per_bucket = band_keys.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    # n·(n-1) is even, so integer DIV is exact (and stays in long —
    # `/` would detour through double)
    pairs = F.expr("__bn * (__bn - 1) DIV 2")
    oversize = F.col("__bn") > max_bucket
    return per_bucket.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("__bn").alias("max_bucket_size"),
        F.sum(pairs).cast("bigint").alias("candidate_pairs"),
        F.sum(oversize.cast("bigint")).cast("bigint").alias("oversize_buckets"),
        F.sum(F.when(oversize, pairs).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("oversize_pairs"),
    )


def band_bucket_profile_sql(
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`band_bucket_profile` (same band constants;
    windowed/plain sums CAST to BIGINT for the driver's pandas view)."""
    rows = num_hashes // bands
    gram = ", ".join(f"t[i+{j + 1}]" for j in range(shingle_n))
    sig_entries = ",\n    ".join(
        f"list_aggregate(list_transform(s, x -> md5('{i}:' || x)), 'min')"
        for i in range(num_hashes)
    )
    band_entries = ",\n    ".join(
        "concat_ws('|', '{b}', {parts})".format(
            b=b,
            parts=", ".join(f"g[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
WITH tok AS (
  SELECT {id_col}, regexp_split_to_array({text_col}, '[ \\t\\n\\x0B\\f\\r]+') AS t FROM {table}
), sh AS (
  SELECT {id_col},
    CASE WHEN len(t) < {shingle_n} THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(range(len(t) - {shingle_n - 1}),
                                           i -> concat_ws(' ', {gram})))
    END AS s
  FROM tok
), sig AS (
  SELECT {id_col}, s, [
    {sig_entries}] AS g
  FROM sh WHERE len(s) > 0
), bands0 AS (
  SELECT {id_col}, unnest([
    {band_entries}]) AS band_key
  FROM sig
), per_bucket AS (
  SELECT band_key, count(*) AS bn FROM bands0 GROUP BY band_key
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(bn) AS BIGINT) AS max_bucket_size,
       CAST(sum(bn * (bn - 1) // 2) AS BIGINT)
         AS candidate_pairs,
       CAST(sum(CASE WHEN bn > {max_bucket} THEN 1 ELSE 0 END) AS BIGINT)
         AS oversize_buckets,
       CAST(sum(CASE WHEN bn > {max_bucket}
                THEN bn * (bn - 1) // 2 ELSE 0 END) AS BIGINT)
         AS oversize_pairs
FROM per_bucket
"""


def near_dup_banded_sql(
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> str:
    """DuckDB twin of :func:`near_dup_pairs_banded`, generated from the
    same band/hash constants so candidate buckets and Jaccard agree
    (including the ``max_bucket`` oversize-bucket cut when set)."""
    rows = num_hashes // bands
    gram = ", ".join(f"t[i+{j + 1}]" for j in range(shingle_n))
    sig_entries = ",\n    ".join(
        f"list_aggregate(list_transform(s, x -> md5('{i}:' || x)), 'min')"
        for i in range(num_hashes)
    )
    band_entries = ",\n    ".join(
        "concat_ws('|', '{b}', {parts})".format(
            b=b,
            parts=", ".join(f"g[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(bands)
    )
    bucket_cut = (
        " WHERE band_key IN (SELECT band_key FROM bands0 "
        f"GROUP BY band_key HAVING count(*) <= {max_bucket})"
        if max_bucket is not None
        else ""
    )
    return f"""
WITH tok AS (
  SELECT {id_col}, regexp_split_to_array({text_col}, '[ \\t\\n\\x0B\\f\\r]+') AS t FROM {table}
), sh AS (
  SELECT {id_col},
    CASE WHEN len(t) < {shingle_n} THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(range(len(t) - {shingle_n - 1}),
                                           i -> concat_ws(' ', {gram})))
    END AS s
  FROM tok
), sig AS (
  SELECT {id_col}, s, [
    {sig_entries}] AS g
  FROM sh WHERE len(s) > 0
), bands0 AS (
  SELECT {id_col}, unnest([
    {band_entries}]) AS band_key
  FROM sig
), bands AS (
  SELECT * FROM bands0{bucket_cut}
), cands AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.{id_col} < b.{id_col}
)
SELECT id_a, id_b,
       round(len(list_intersect(sa.s, sb.s)) * 1.0
             / len(list_distinct(sa.s || sb.s)), 6) AS jaccard
FROM cands
JOIN sh sa ON sa.{id_col} = cands.id_a
JOIN sh sb ON sb.{id_col} = cands.id_b
WHERE round(len(list_intersect(sa.s, sb.s)) * 1.0
            / len(list_distinct(sa.s || sb.s)), 6) >= {threshold}
"""


def near_dup_pairs_ml(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 5,
    shingle_n: int = 3,
    max_jaccard_distance: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Library formulation of the banded join: ``pyspark.ml.feature.
    MinHashLSH`` + ``approxSimilarityJoin``.

    Shingles → ``HashingTF`` sparse vectors → MinHash OR-amplified
    across ``num_hash_tables`` tables; the join explodes per-table
    bucket keys and only compares within-bucket rows (same no-all-pairs
    guarantee as :func:`near_dup_pairs_banded`).  Returns
    ``(id_a, id_b, jaccard_dist)`` with ``id_a < id_b``.

    Not ANSI-SQL-expressible (hash family is Spark-internal) — the
    driver records the weaker rows-only check; the banded variant
    carries the full oracle.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = (
        shingled(df, [id_col], text_col, shingle_n, out="__sh0")
        .select(
            F.col(id_col).alias("__id"),
            F.array_distinct(F.col("__sh0")).alias("__sh"),
        )
        .filter(F.size("__sh") > 0)
    )
    tf = HashingTF(inputCol="__sh", outputCol="__features", numFeatures=1 << 18)
    feats = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="__features",
        outputCol="__hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, max_jaccard_distance, distCol="jaccard_dist"
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


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
    drop_hashes: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide LINE/paragraph dedup (public reference: the CCNet
    paragraph-hash dedup, Wenzek et al. arXiv:1911.00359 §3.1, and
    C4's duplicate-span removal, Raffel et al. arXiv:1910.10683
    §2.2): every line of length ≥ ``min_len`` may appear ONCE in the
    whole corpus — the first occurrence in ``(doc_id, line_pos)``
    order survives, every other copy is dropped, and each document is
    reassembled from its surviving lines in original order.  This is
    the boilerplate killer (nav bars, cookie banners, license
    headers) that document-level dedup cannot touch.

    Short lines (< ``min_len`` chars) are always kept: blank
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
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit("\n"))).alias(
            "__pos", "__line"
        ),
    )
    elig = lines.filter(F.length("__line") >= min_len).select(
        id_col,
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
            id_col, "__pos"
        )
        elig = elig.join(dh, on="__h", how="left_anti")
    winners = elig.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__w")
    )
    drops = (
        elig.join(winners, on="__h")
        .filter(
            ~(
                (F.col(id_col) == F.col("__w")[id_col])
                & (F.col("__pos") == F.col("__w.__pos"))
            )
        )
        .select(id_col, "__pos")
    )
    if seen_drops is not None:
        drops = drops.unionByName(seen_drops)
    kept = lines.join(drops, on=[id_col, "__pos"], how="left_anti")
    reassembled = kept.groupBy(id_col).agg(
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
        F.col(id_col),
        F.size(F.split(F.col(text_col), F.lit("\n"))).alias("__nl"),
    )
    return (
        base.join(reassembled, on=id_col, how="left")
        .select(
            id_col,
            "clean_text",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (
                F.coalesce(F.col("__nl"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
        )
    )


def line_dedup_sql(table: str = "documents", min_len: int = 20) -> str:
    """DuckDB twin of :func:`line_dedup` — same keep-first winner
    (row_number over (line, ordered by doc, pos)), same short-line
    exemption, same reassembly order."""
    return f"""
WITH base AS (
  SELECT doc_id, str_split(text, chr(10)) AS ls FROM {table}
), lines AS (
  SELECT doc_id, i.i - 1 AS pos, ls[i.i] AS line
  FROM base, LATERAL unnest(generate_series(1, len(ls))) AS i(i)
), marked AS (
  SELECT doc_id, pos, line,
         CASE WHEN length(line) >= {min_len} THEN row_number() OVER (
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
