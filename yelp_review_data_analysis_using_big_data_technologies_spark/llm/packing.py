"""Token-budget sequence packing (SURVEY.md §2.12, round 5).

LLM training consumes fixed-size token windows; feeding one short
document per window wastes most of the context, so pipelines PACK
documents back-to-back into bins of ``BUDGET`` tokens ("sample
packing").  The assignment here is the deterministic streaming rule:

    bin(doc) = exclusive_prefix_tokens(doc) div BUDGET

over the corpus in ``id`` order — doc d lands in the bin its running
token offset falls in.  A document may straddle a boundary (its bin is
where it STARTS; bins can exceed ``BUDGET`` by at most one document's
tokens — the standard greedy contiguous pack, and the reason training
loaders carry per-bin overflow handling).

The interesting part at scale is the PREFIX SUM.  A single
``sum() over (order by id)`` window funnels the whole corpus through
one task — the textbook non-scalable plan.  This module computes the
same integers with the classic two-level decomposition:

1. bucket docs by ``id div 4096`` (a pure projection);
2. per-bucket token subtotals (partial-agg, |corpus|/4096 rows);
3. EXCLUSIVE running offsets over the small subtotal relation (one
   window over n/4096 rows — it fits one task; recurse the same
   trick if a corpus ever outgrows it);
4. per-bucket exclusive prefix windows (partitioned by bucket —
   embarrassingly parallel) + the bucket offset.

Every value is integer arithmetic (``div``, ``+``) — bit-exact in any
engine — and the DuckDB twin just runs the naive single-window form,
so the oracle also proves the two-level decomposition equals the
textbook prefix sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.text import token_count

#: Tokens per packing bin (the twin divides by the same value).
BUDGET = 512


def pack_bins(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Assign every document a packing ``bin_id`` and its token
    ``offset_tokens`` (exclusive prefix sum) under the greedy
    contiguous rule above.

    ``tokens_col`` supplies a precomputed token count; otherwise
    whitespace ``token_count()`` is used.  Returns
    ``(id, n_tokens, offset_tokens, bin_id)`` — all bigint.

    CONTRACT (r8, pinned in tests/test_dup_ids.py): NULL ids are NOT
    packable and are dropped explicitly — without the filter they
    silently fell out of the Spark plan at the bucket equi-join (NULL
    never equi-matches) while the naive-window oracle kept them, a
    divergence the duplicate-id probe caught.  Duplicate ids pack
    deterministically: the prefix windows order by ``(id, n_tokens)``,
    so tied ids differing in length get a stable order (full-row
    duplicates are interchangeable — no observable difference).
    """
    n = (
        F.col(tokens_col)
        if tokens_col is not None
        else token_count()
    ).cast("bigint")
    d = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.expr(f"{id_col} div 4096").alias("__bkt"),
    )
    # per-bucket subtotals -> exclusive running bucket offsets (the
    # ONLY ordered-window-over-everything, and it runs over the
    # n/4096-row subtotal relation, not the corpus).  Spark
    # logs "WindowExec: No Partition Defined" for this window every
    # run — EXPECTED and bounded: the single task sees one row per
    # 4096 docs, not the corpus (a 1e9-doc corpus -> ~244k subtotal
    # rows).  Do not "fix" it by partitioning; the global order IS the
    # level-2 prefix sum.
    per_bucket = d.groupBy("__bkt").agg(F.sum("n_tokens").alias("__bsum"))
    w_buckets = (
        Window.orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "__bkt",
        F.coalesce(F.sum("__bsum").over(w_buckets), F.lit(0).cast("bigint")).alias(
            "__off"
        ),
    )
    # per-bucket exclusive prefix (parallel over buckets); the join on
    # __bkt shares the bucket partitioning the window needs, so the
    # corpus shuffles ONCE on the bucket key
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(id_col, "n_tokens")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(offsets, on="__bkt")
        .withColumn(
            "offset_tokens",
            F.col("__off")
            + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0).cast("bigint")),
        )
        .withColumn("bin_id", F.expr(f"offset_tokens div {BUDGET}"))
        .select(id_col, "n_tokens", "offset_tokens", "bin_id")
    )


def pack_bins_sql() -> str:
    """DuckDB twin of :func:`pack_bins` — the NAIVE single-window
    prefix sum, so the oracle simultaneously checks the two-level
    decomposition against the textbook form."""
    return f"""
WITH __d AS (
  -- NULL ids are not packable (r8 contract; matches the Spark plan)
  SELECT doc_id AS doc_id, CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
  FROM documents WHERE doc_id IS NOT NULL
), __c AS (
  -- CAST: DuckDB sum(BIGINT) yields HUGEINT, which pandas/arrow renders
  -- as float64 and the driver's dtype hash then diverges from Spark's
  -- int64 (r6 VERDICT finding #1) — pin both derived columns to BIGINT.
  -- n_tokens second sort key: deterministic under duplicate ids (r8).
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id, n_tokens
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS offset_tokens
  FROM __d
)
SELECT doc_id, n_tokens, offset_tokens,
       CAST(offset_tokens // {BUDGET} AS BIGINT) AS bin_id
FROM __c ORDER BY doc_id
"""
