"""Duplicated-passage span detection (the k-gram approximation of
exact-substring training-data dedup, Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better").

MinHash/SimHash ask "are these DOCUMENTS similar?"; winnowing asks
"do two documents share a run?".  This operator answers the substring
dedup question directly: WHERE inside each document does text occur
that also occurs elsewhere in the corpus (or again in the same
document)?  The suffix-array construction of the paper is inherently
sequential; the distributed k-gram relaxation is standard: a token
position is *duplicated* iff the ``k``-gram starting there occurs at
least twice corpus-wide, and maximal runs of duplicated
positions merge into spans.  Every exact repeat of length ≥ k tokens
is caught (its every k-window repeats); nothing shorter than k can
flag a position — so spans approximate the suffix-array answer at
k-token resolution, the same trade the paper's MinHash baseline makes.

Plan shape (the 100-TB story):

1. tokenize→shingle as two uncollapsed projections (``shingled()`` —
   the measured 7.5× staging rule) + ``posexplode`` → one row per
   token position, md5-hashed shingle (portable across engines);
2. occurrence counts by shingle hash: partial-agg groupBy (map-side
   combine) — NOT a count window, which would shuffle full rows and
   serialize each viral shingle's partition; the agg+join shape lets
   AQE split a skewed hash;
3. flagged positions join back on the hash (shuffle equi-join);
4. span merge is the classic gaps-and-islands: per-document window
   (lag + running sum), bounded by document length, one hash shuffle.

No all-pairs stage anywhere; within-doc state is O(doc length).

Occurrence semantics: the threshold counts OCCURRENCES, not documents
— a passage pasted twice into one document is a duplicate span too,
matching the suffix-array semantics (the corpus repeats the bytes,
regardless of where).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .staging import spread, stage
from .text import shingled, tokens
from .winnow import _TOK_SQL, _shingle_sql

#: Span k-gram width: every exact repeat of >= ``SPAN_K`` tokens is
#: caught (the twins unroll the same width).
SPAN_K = 5


def dup_spans(df: DataFrame) -> DataFrame:
    """Merged duplicated-passage spans of ``(doc_id, text)`` →
    ``(doc_id, span_start, span_end, span_tokens, n_dup_shingles)``
    with token-index spans, ``span_end`` exclusive.

    Adjacent or overlapping duplicated k-grams (``k = SPAN_K``) merge
    into one span (gap rule: positions ``p`` and ``p'`` belong to one
    span iff ``p' - p <= k``, i.e. their windows overlap or touch —
    touching runs are contiguous duplicated text).  Documents with
    fewer than ``k`` tokens produce no shingles and are absent; NULL
    ids are not attributable and are dropped (the pack_bins/winnow
    contract).
    """
    flagged = _flagged_positions(df, keep_first=False)
    return (
        _merge_islands(flagged)
        .select(
            F.col("doc_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
            "n_dup_shingles",
        )
        .orderBy("doc_id", "span_start")
    )


def _flagged_positions(df: DataFrame, keep_first: bool) -> DataFrame:
    """Token positions whose k-gram occurs at least twice corpus-wide →
    ``(doc_id, __p)``.  With ``keep_first`` the globally FIRST
    occurrence of each duplicated shingle (smallest ``(id, pos)``) is
    exempt — the removal contract that leaves one copy of the bytes in
    the corpus, mirroring the repo's keep-first line-dedup rule."""
    sid = F.col("doc_id")
    sh = spread(shingled(df.where(sid.isNotNull()), ["doc_id"], n=SPAN_K))
    # one row per token position; staged because both the occurrence
    # count and the join-back reference it (without the persist the
    # tokenizer pipeline executes twice)
    pos_sh = stage(
        sh.select(sid, F.posexplode("__sh").alias("__p", "__s")).select(
            sid, "__p", F.md5("__s").alias("__h")
        )
    )
    # partial-agg groupBy + join back, NOT a count window over __h: the
    # window would shuffle full rows and serialize each viral shingle's
    # partition (the twin uses the window form — fine at oracle scale)
    agg = [F.count(F.lit(1)).alias("__occ")]
    if keep_first:
        agg.append(F.min(F.struct(sid.alias("i"), F.col("__p").alias("p"))).alias("__first"))
    dup = (
        pos_sh.groupBy("__h").agg(*agg).where(F.col("__occ") >= 2)
    )
    flagged = pos_sh.join(dup, "__h")
    if keep_first:
        flagged = flagged.where(
            ~((sid == F.col("__first.i")) & (F.col("__p") == F.col("__first.p")))
        )
    return flagged.select(sid, "__p")


def _merge_islands(flagged: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of flagged positions →
    ``(doc_id, span_start, span_end, n_dup_shingles)`` with
    ``span_end`` exclusive; positions ``p, p'`` fuse iff
    ``p' - p <= SPAN_K`` (windows overlap or touch)."""
    w_ord = Window.partitionBy("doc_id").orderBy("__p")
    run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = flagged.withColumn(
        "__brk",
        F.when(
            F.lag("__p").over(w_ord).isNull()
            | (F.col("__p") - F.lag("__p").over(w_ord) > SPAN_K),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__isl", F.sum("__brk").over(run))
    return islands.groupBy(F.col("doc_id"), F.col("__isl")).agg(
        F.min("__p").alias("span_start"),
        (F.max("__p") + SPAN_K).alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_shingles"),
    )


def remove_dup_spans(df: DataFrame) -> DataFrame:
    """The REMEDIATION half of substring dedup (Lee et al. 2022 cut
    the duplicated byte ranges out of the corpus; this is the k-gram
    relaxation): excise duplicated-passage spans from each
    ``(doc_id, text)`` document → ``(doc_id, clean_text, n_tokens,
    n_tokens_removed, n_spans_removed)``.

    The globally first occurrence
    (smallest ``(id, pos)``) of each duplicated shingle, so exactly
    one copy of repeated content survives the pass — the same
    keep-first rule as CCNet line dedup.  The exemption is
    shingle-level: a protected first occurrence can still lose tokens
    to an overlapping span of OTHER duplicated shingles (interval
    semantics, the approximation the k-gram relaxation makes).

    ``clean_text`` is the kept tokens rejoined with single spaces —
    tokens are the operator's unit, as in the chunking family;
    original whitespace is not preserved.  NULL text → NULL
    clean_text and zero counts, and a FULLY-EXCISED document also
    yields NULL clean_text (the c4_line_filter / line_dedup
    empty-array contract: DuckDB's array_to_string returns NULL for
    an empty list while Spark's array_join returns ``''`` — NULL is
    the portable encoding of "nothing survived"); docs with no
    removed span pass through with ``n_tokens_removed = 0``.

    Plan shape: the span side is :func:`dup_spans`'s (partial-agg
    count, hash join back, per-doc islands window); the removal side
    is one LEFT join of documents onto their ≤ doc-length span lists
    and a per-row indexed ``filter`` lambda — no extra shuffle beyond
    the span pipeline itself.
    """
    sid = F.col("doc_id")
    spans = _merge_islands(_flagged_positions(df, keep_first=True))
    per_doc = spans.groupBy(sid).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans"),
        F.count(F.lit(1)).alias("__n_spans"),
    )
    docs = df.where(sid.isNotNull()).select(
        sid, F.col("text").alias("__text"), tokens("text").alias("__tk")
    )
    joined = docs.join(per_doc, on="doc_id", how="left")
    kept = F.expr(
        "filter(__tk, (t, i) -> __spans IS NULL OR "
        "NOT exists(__spans, sp -> i >= sp.s AND i < sp.e))"
    )
    n_tok = F.when(F.col("__text").isNotNull(), F.size("__tk")).otherwise(
        F.lit(0)
    )
    return joined.select(
        sid,
        F.when(
            F.col("__text").isNotNull() & (F.size(kept) > 0),
            F.array_join(kept, " "),
        ).alias("clean_text"),
        n_tok.alias("n_tokens"),
        F.when(
            F.col("__text").isNotNull(), F.size("__tk") - F.size(kept)
        )
        .otherwise(F.lit(0))
        .alias("n_tokens_removed"),
        F.coalesce(F.col("__n_spans"), F.lit(0)).alias("n_spans_removed"),
    ).orderBy("doc_id")


def dup_spans_sql() -> str:
    """DuckDB twin of :func:`dup_spans` — same md5 shingle hashes,
    same occurrence threshold, same gaps-and-islands merge.  Shares
    the ngram family's documented quadratic-shingle twin ceiling
    (DuckDB re-derives the token array per shingle; fine at oracle
    scale, the Spark side stays linear)."""
    return f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
  WHERE doc_id IS NOT NULL
), sh AS (
  SELECT doc_id, {_shingle_sql(SPAN_K)} AS sh FROM tk
), pos AS (
  SELECT doc_id, unnest(range(len(sh))) AS p, unnest(sh) AS s
  FROM sh
), hashed AS (
  SELECT doc_id, p, md5(s) AS h FROM pos
), dup AS (
  SELECT h FROM hashed GROUP BY h HAVING count(*) >= 2
), flagged AS (
  SELECT doc_id, p FROM hashed JOIN dup USING (h)
), isl AS (
  SELECT doc_id, p,
         CASE WHEN lag(p) OVER w IS NULL
                OR p - lag(p) OVER w > {SPAN_K} THEN 1 ELSE 0 END AS brk
  FROM flagged
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), run AS (
  SELECT doc_id, p,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM isl
)
SELECT doc_id,
       CAST(min(p) AS INT) AS span_start,
       CAST(max(p) + {SPAN_K} AS INT) AS span_end,
       CAST(max(p) + {SPAN_K} - min(p) AS INT) AS span_tokens,
       count(*) AS n_dup_shingles
FROM run GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def remove_dup_spans_sql() -> str:
    """DuckDB twin of :func:`remove_dup_spans` — same flagged set
    (keep-first by ``row_number`` over ``(id, pos)``, the window form
    of Spark's ``min(struct)``), same islands merge, same indexed
    list_filter removal.  Shares the ngram family's quadratic-shingle
    twin ceiling."""
    return f"""
WITH tk AS (
  SELECT doc_id, text, {_TOK_SQL} AS tk FROM documents
  WHERE doc_id IS NOT NULL
), sh AS (
  SELECT doc_id, {_shingle_sql(SPAN_K)} AS sh FROM tk
), pos AS (
  SELECT doc_id, unnest(range(len(sh))) AS p, unnest(sh) AS s
  FROM sh
), hashed AS (
  SELECT doc_id, p, md5(s) AS h FROM pos
), occ AS (
  SELECT doc_id, p, count(*) OVER (PARTITION BY h) AS n_occ, row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
  FROM hashed
), flagged AS (
  SELECT doc_id, p FROM occ WHERE n_occ >= 2 AND rn > 1
), isl AS (
  SELECT doc_id, p,
         CASE WHEN lag(p) OVER w IS NULL
                OR p - lag(p) OVER w > {SPAN_K} THEN 1 ELSE 0 END AS brk
  FROM flagged
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), run AS (
  SELECT doc_id, p,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM isl
), spans AS (
  SELECT doc_id, min(p) AS s, max(p) + {SPAN_K} AS e
  FROM run GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans,
         count(*) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN t.text IS NULL THEN NULL
            -- array_to_string of an EMPTY list is already NULL in
            -- DuckDB, matching the Spark side's explicit guard
            ELSE array_to_string(list_transform(
              list_filter(range(len(t.tk)),
                i -> p.spans IS NULL
                     OR len(list_filter(p.spans,
                          sp -> i >= sp.s AND i < sp.e)) = 0),
              i -> t.tk[i+1]), ' ')
       END AS clean_text,
       CAST(CASE WHEN t.text IS NULL THEN 0 ELSE len(t.tk) END AS INT)
         AS n_tokens,
       CAST(CASE WHEN t.text IS NULL THEN 0
            ELSE len(t.tk) - len(list_filter(range(len(t.tk)),
              i -> p.spans IS NULL
                   OR len(list_filter(p.spans,
                        sp -> i >= sp.s AND i < sp.e)) = 0))
       END AS INT) AS n_tokens_removed,
       CAST(coalesce(p.n_spans, 0) AS INT) AS n_spans_removed
FROM tk t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""
