"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS local fingerprinting algorithm).

MinHash answers "are these documents similar overall?"; winnowing
answers "do they share a *contiguous run* of content, and where?" —
the primitive behind plagiarism detection, quote/boilerplate mining,
and positional near-dup evidence.  Guarantee: any shared token run of
at least ``w + k - 1`` tokens produces at least one shared
fingerprint, while no fingerprint is taken from a run shorter than
``k`` tokens.

Algorithm per document:

1. word ``k``-gram shingles with their 0-based positions;
2. portable hash per shingle (md5 hex — Spark and DuckDB agree
   byte-for-byte, unlike their native ``hash()``s);
3. sliding window of ``w`` consecutive shingle hashes; from each
   window select the MINIMUM hash, ties broken to the LEFTMOST
   position (the classic algorithm picks the rightmost; leftmost is
   the same guarantee and is what a single engine-portable
   ``min(hash || ':' || zero-padded pos)`` expression yields, so both
   engines share one tie rule by construction);
4. the fingerprint set is the DISTINCT (hash, position) selections.

Spark plan shape (the 100-TB story): tokenize/shingle/hash are pure
projections, the window min is a ``doc_id``-partitioned running
window (one hash shuffle, per-partition sort, w-row frame state), and
the distinct is a second shuffle on (doc, selection) — no
all-pairs stage anywhere.  Document length bounds per-key work, so
there is no skew beyond the corpus's own longest doc.

``winnow_pairs`` then turns fingerprints into near-dup candidate
pairs by an inverted-index self-join on the fingerprint hash — the
same bucket-join shape as banded MinHash LSH, with the same
df-cap defense (a fingerprint appearing in more than ``WINNOW_MAX_DF`` docs
is boilerplate; it is dropped from pairing BEFORE the join so one
viral snippet cannot quadratically explode a bucket).

Oracle note: the DuckDB twins share the quadratic-shingle ceiling
documented for the ngram family (fine at oracle scale); the Spark
side stages tokens once per doc and stays linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .staging import spread, stage
from .text import shingled

#: zero-pad width for positions inside the min-selection encoding;
#: lexicographic order == numeric order only while positions fit, so
#: docs are bounded at 10^9 shingles (a ~4 GB single document — far
#: past any sane row size; the bound is documented, not checked).
_POS_PAD = 9

#: Winnowing shape shared with the twins: ``WINNOW_K``-token shingles,
#: ``WINNOW_W``-shingle windows; pairs share >= 2 fingerprints, each in
#: at most ``WINNOW_MAX_DF`` docs.
WINNOW_K = 3
WINNOW_W = 4
WINNOW_MAX_DF = 64


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Per-document winnowing fingerprint set of ``(doc_id, text)`` →
    ``(doc_id, fp_pos, fp)`` sorted by (id, position).

    * ``k = WINNOW_K`` — shingle width in tokens (no fingerprint from
      a run shorter than this);
    * ``w = WINNOW_W`` — window width in shingles (every shared run of
      ``w + k - 1`` tokens is caught).

    Short docs: with ``0 < m < w`` shingles there is one clamped
    window (the global min — winnowing degrades to a 1-hash
    MinHash); with no shingles (empty or
    NULL text, or fewer than ``k`` tokens) the doc is absent from the
    output.  NULL ids are not fingerprintable and are dropped — the
    same contract as pack_bins.
    """
    sid = F.col("doc_id")
    # shingled() keeps tokenize→shingle as two UNCOLLAPSED projections
    # (inlining the tokenizer into the shingle lambda re-runs it per
    # SHINGLE — the measured 7.5× trap); spread() lifts the CPU-heavy
    # md5/explode stage off a single input split on byte-tiny inputs
    # (no-op when the table already has cluster parallelism).
    sh = spread(
        shingled(df.where(sid.isNotNull()), ["doc_id"], n=WINNOW_K)
    )
    staged = sh.select(
        sid,
        F.size("__sh").alias("__m"),
        F.posexplode("__sh").alias("__p", "__s"),
    )
    enc = F.concat(
        F.md5("__s"),
        F.lit(":"),
        F.lpad(F.col("__p").cast("string"), _POS_PAD, "0"),
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("__p")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    return (
        staged.select(
            sid,
            F.col("__m"),
            F.col("__p"),
            F.min(enc).over(frame).alias("__sel"),
        )
        .where(F.col("__p") <= F.greatest(F.col("__m") - WINNOW_W, F.lit(0)))
        .select(sid, F.col("__sel"))
        .distinct()
        .select(
            sid,
            F.substring("__sel", 34, _POS_PAD).cast("int").alias("fp_pos"),
            F.substring("__sel", 1, 32).alias("fp"),
        )
        .orderBy("doc_id", "fp_pos")
    )


def winnow_pairs(fps: DataFrame) -> DataFrame:
    """Candidate near-dup pairs from a :func:`winnow_fingerprints`
    output: documents sharing at least two distinct fingerprint
    hashes → ``(id_a, id_b, n_shared)``.

    Inverted-index self-join on the hash (shuffle key = fp), with
    fingerprints present in more than ``WINNOW_MAX_DF`` documents
    dropped before the join — the ngram ``MAX_DF`` defense against
    boilerplate buckets going quadratic.
    """
    # stage(): the fingerprint pipeline (window + distinct) is
    # referenced THREE times below (both join sides + the df cut) —
    # without the persist it would re-execute per reference
    by_fp = stage(fps.select(F.col("doc_id").alias("id"), "fp").distinct())
    rare = (
        by_fp.groupBy("fp")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") <= WINNOW_MAX_DF)
        .select("fp")
    )
    indexed = by_fp.join(rare, "fp")
    a, b = indexed.alias("a"), indexed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

_TOK_SQL = r"regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')"


def _shingle_sql(k: int) -> str:
    parts = ", ".join(f"tk[i+{j + 1}]" for j in range(k))
    return (
        f"CASE WHEN len(tk) < {k} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(len(tk) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )


def winnow_fingerprints_sql() -> str:
    """DuckDB twin of :func:`winnow_fingerprints` — same md5 hashes,
    same ``hash:pos`` min-encoding, same clamped window frame."""
    return f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
  WHERE doc_id IS NOT NULL
), sh AS (
  SELECT doc_id, {_shingle_sql(WINNOW_K)} AS sh FROM tk
), pos AS (
  SELECT doc_id, len(sh) AS m,
         unnest(range(len(sh))) AS p, unnest(sh) AS s
  FROM sh
), win AS (
  SELECT doc_id, m, p,
         min(md5(s) || ':' || lpad(CAST(p AS VARCHAR), {_POS_PAD}, '0'))
           OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS sel
  FROM pos
)
SELECT DISTINCT doc_id,
       CAST(substring(sel, 34, {_POS_PAD}) AS INT) AS fp_pos,
       substring(sel, 1, 32) AS fp
FROM win WHERE p <= greatest(m - {WINNOW_W}, 0)
ORDER BY doc_id, fp_pos
"""


def winnow_pairs_sql() -> str:
    """DuckDB twin of :func:`winnow_pairs` over
    :func:`winnow_fingerprints_sql` output."""
    return f"""
WITH fps AS ({winnow_fingerprints_sql()}),
by_fp AS (SELECT DISTINCT doc_id AS id, fp FROM fps),
rare AS (
  SELECT fp FROM by_fp GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}
),
indexed AS (SELECT id, fp FROM by_fp JOIN rare USING (fp))
SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
FROM indexed a JOIN indexed b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2 HAVING count(*) >= 2
ORDER BY id_a, id_b
"""
