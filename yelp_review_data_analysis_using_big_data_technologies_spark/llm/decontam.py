"""Benchmark decontamination (SURVEY.md §2.12 "training-data
pipeline" tier).

Training corpora must not contain the evaluation benchmarks the
resulting model is scored on; the standard defense is n-gram-overlap
decontamination: a corpus document is CONTAMINATED when it shares at
least two distinct word n-grams with the benchmark set.
(The reference analytics pipeline has no analog — this extends the
engine's dedup family, reusing its shingling:
``llm/text.py::shingled``.)

Plan shape, and why it scales to 100 TB:

1. Shingle the (small) benchmark side and reduce it to DISTINCT
   n-grams — the benchmark fingerprint.  Eval suites are MBs against
   a corpus of TBs, so this set is broadcast-joinable; the corpus
   side is never shuffled at all.
2. Shingle the corpus, explode to (doc, shingle) postings, and
   broadcast-semi-join against the fingerprint.  Only matching
   postings survive — typically a tiny fraction.
3. Per-doc distinct-overlap count + threshold filter.  The only
   shuffle in the whole plan is this final aggregation over the
   matched postings.

Contrast with near-dup pair generation (``dedup.py``): there both
sides are the corpus, so the join must shuffle on the shingle; here
the asymmetry (tiny benchmark) turns the same inverted-index idea
into a broadcast map-side filter.

The DuckDB twin (:func:`contamination_overlap_sql`) runs the identical
shingling and overlap arithmetic, so the driver hash-checks it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import shingled

#: Deterministic benchmark carve-out of ``documents``: every 20th doc
#: plays the eval set; the rest is the corpus.
BENCH_PRED = "doc_id % 20 = 0"
CORPUS_PRED = "doc_id % 20 <> 0"


def contamination_overlap(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """(doc_id, n_shared) for corpus docs sharing ≥ 2
    distinct 3-grams with ANY benchmark text.  The
    benchmark's distinct-shingle fingerprint is broadcast — the corpus
    is filtered map-side and only matched postings reach the one
    aggregation shuffle.  PRECONDITION: corpus ids are unique and
    non-NULL (same contract as ``packing.pack_bins``) — duplicate or
    NULL ids conflate their overlap counts into one group."""
    # keep_cols=[] — the benchmark side needs only text (an eval-suite
    # fingerprint frame has no reason to carry the corpus' id column)
    bench_sh = (
        shingled(benchmark, [])
        .select(F.explode(F.col("__sh")).alias("__s"))
        .distinct()
    )
    corpus_sh = shingled(corpus, ["doc_id"]).select(
        F.col("doc_id"),
        F.explode(F.array_distinct(F.col("__sh"))).alias("__s"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), on="__s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Corpus minus contaminated docs (anti-join on the flagged ids) —
    the removal composition, same shape as ``dedup.remove_near_dups``.
    The anti-join is null-safe: a flagged NULL id would never match
    a plain equi-anti-join (NULL ≠ NULL), so a contaminated doc with
    a NULL id would silently survive decontamination."""
    flagged = contamination_overlap(corpus, benchmark).select(
        F.col("doc_id").alias("__flagged_id")
    )
    return corpus.join(
        flagged,
        on=F.col("doc_id").eqNullSafe(F.col("__flagged_id")),
        how="left_anti",
    )


def _shingle_cte(table_expr: str, id_sel: str) -> str:
    """DuckDB distinct-shingle projection over ``table_expr`` —
    mirrors ``text.shingled`` (whitespace tokens, space-joined word
    3-grams)."""
    toks = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    parts = ", ".join(f"{toks}[i+{j + 1}]" for j in range(3))
    return (
        f"SELECT DISTINCT {id_sel} unnest(list_transform("
        f"range(len({toks}) - 2), "
        f"i -> concat_ws(' ', {parts}))) AS s "
        f"FROM {table_expr} WHERE len({toks}) >= 3"
    )


def contamination_overlap_sql(corpus_expr: str) -> str:
    """DuckDB twin of :func:`contamination_overlap` of a corpus table
    EXPRESSION (a table name, a parenthesized subquery, or a CTE name)
    against the ``BENCH_PRED`` carve-out of ``documents`` — the
    reusable form compositions nest (the training-freeze pipeline
    decontaminates the post-dedup relation against the raw
    benchmark carve-out)."""
    corpus_sh = _shingle_cte(corpus_expr, "doc_id,")
    bench_sh = _shingle_cte(f"(SELECT * FROM documents WHERE {BENCH_PRED})", "")
    return f"""
WITH corpus_sh AS ({corpus_sh}),
bench_sh AS (SELECT DISTINCT s FROM ({bench_sh}))
SELECT doc_id, count(*) AS n_shared
FROM corpus_sh JOIN bench_sh USING (s)
GROUP BY doc_id
HAVING count(*) >= 2
"""

