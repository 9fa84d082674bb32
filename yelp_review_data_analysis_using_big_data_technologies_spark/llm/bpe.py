"""Distributed BPE-style pair-merge training over the corpus token
stream (r15, the r14 verdict's #4).

Every LLM data pipeline trains or validates a tokenizer on the frozen
corpus; the core of BPE training is the iterative loop

    count adjacent symbol pairs -> take the most frequent pair ->
    merge its non-overlapping occurrences left-to-right -> repeat

run here at the WORD level (symbols start as whitespace tokens, a
merge concatenates two adjacent symbols with a space) for a FIXED
number of merges — the ``pagerank`` unroll pattern: K data-dependent
rounds, each a pure dataframe transform with a per-round lineage
stage, plus a deterministic tie-break (count DESC, then pair
lexicographic) so the learned merge table is reproducible and
SQL-twinnable.

Distributed shape (the part that matters at 100 TB):

* the token stream lives as ``(doc_id, pos, sym)`` rows, partitioned
  by ``doc_id`` — every window in a round shares that ONE partition
  spec, so a round costs one stream shuffle + one pair-count
  partial aggregate, never a join;
* the greedy left-to-right non-overlap rule is a gaps-and-islands
  computation in the SAME window: a run of consecutive matches
  merges at even offsets from the run head (``a a a a`` under the
  pair ``(a, a)`` becomes ``aa aa``, not three overlapping merges);
* the per-round top pair is a 1-row broadcast, exactly like the
  PageRank normalization constant.

Production BPE trains on a capped sample (the quadratic-ish constant
per merge round is priced per round, not per corpus byte); the
operator takes whatever relation it is given — cap upstream with the
sampling operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

__all__ = [
    "bpe_encode_stats",
    "bpe_encode_stats_sql",
    "bpe_merge_steps",
    "bpe_merge_steps_sql",
]

#: DuckDB twin of :func:`llm.text.tokens` (kept textually identical to
#: the ``_TOK`` used by every other documents twin).
_TOK_SQL = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"

#: Merge rounds learned and applied (the twins unroll the same count).
MERGES = 6


def _round(
    seq: DataFrame, step: int
) -> tuple[DataFrame, DataFrame]:
    """One merge round: returns ``(stats_row, next_seq)``.

    ``seq`` is ``(doc_id, pos, sym)``; ``stats_row`` is the 1-row
    frame ``(step, sym_a, sym_b, pair_count, n_merged, vocab_size,
    n_symbols)`` describing the merge chosen this round and the
    stream AFTER applying it.

    Round shape (r15 opt — guide §1.2, the distributed algorithm
    first): the winning pair is a 1-ROW relation, so it is collected
    (one bounded job over the cached adjacency) and inlined as
    LITERALS instead of a per-round broadcast cross join — the round's
    merge plan then has no join at all.  ``next_seq`` is eagerly
    ``localCheckpoint``-ed (the k_core lesson: ``persist`` caches
    execution but NOT the logical plan, so a k-round persist chain
    re-analyzes a k-deep plan every round and per-round wall time
    GREW on a shrinking stream — measured 2.1/2.5/3.5 s for rounds
    1-3 over a 270k-row stream); the checkpoint truncates lineage so
    every round plans against a flat scan.  The stats row aggregates
    the CHECKPOINTED frame — the pre-r15 shape aggregated the
    un-staged window chain, which the cache (keyed on the
    ``drop("sel")`` projection) could not serve, so every round
    executed its window chain twice.  Same integers, same tie order,
    bitwise-identical output."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    from .staging import stage

    adj = stage(seq.withColumn("nxt", F.lead("sym").over(w)))
    top_rows = (
        adj.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("sym_a"), F.col("nxt").alias("sym_b"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), "sym_a", "sym_b")
        .limit(1)
        .collect()
    )
    spark = seq.sparkSession
    if not top_rows:
        # Degenerate stream (no adjacent pair anywhere — empty corpus
        # or all 1-token docs): the pre-r15 cross join with an EMPTY
        # top relation produced an empty stats row and an EMPTY
        # stream (cross join against zero rows), and the SQL twin's
        # CROSS JOIN top{i} does the same; reproduce exactly that.
        empty = spark.createDataFrame(
            [],
            "step int, sym_a string, sym_b string, pair_count bigint, "
            "n_merged bigint, vocab_size bigint, n_symbols bigint",
        )
        return empty, seq.limit(0)
    sym_a, sym_b, pair_count = (
        top_rows[0]["sym_a"],
        top_rows[0]["sym_b"],
        top_rows[0]["pair_count"],
    )
    marked = adj.withColumn(
        "m", (F.col("sym") == F.lit(sym_a)) & (F.col("nxt") == F.lit(sym_b))
    )
    staged = (
        marked.withColumn(
            "cumm",
            F.sum(F.when(F.col("m"), 1).otherwise(0)).over(wcum),
        )
        .withColumn("prev_m", F.lag("m").over(w))
        .withColumn(
            # rnm of the head of the current run of matches,
            # propagated forward within the doc — island start
            "start",
            F.last(
                F.when(
                    F.col("m") & ~F.coalesce(F.col("prev_m"), F.lit(False)),
                    F.col("cumm"),
                ),
                ignorenulls=True,
            ).over(wcum),
        )
        .withColumn(
            "sel",
            F.col("m") & (((F.col("cumm") - F.col("start")) % 2) == 0),
        )
    )
    applied = staged.withColumn("prev_sel", F.lag("sel").over(w))
    nxt_seq = (
        applied.filter(~F.coalesce(F.col("prev_sel"), F.lit(False)))
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("sel"), F.concat_ws(" ", F.col("sym"), F.col("nxt"))
            )
            .otherwise(F.col("sym"))
            .alias("sym"),
            "sel",
        )
        .localCheckpoint(eager=True)
    )
    stats = nxt_seq.agg(
        F.sum(F.when(F.col("sel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_merged"),
        F.countDistinct("sym").alias("vocab_size"),
        F.count(F.lit(1)).alias("n_symbols"),
    ).select(
        F.lit(step).alias("step"),
        F.lit(sym_a).alias("sym_a"),
        F.lit(sym_b).alias("sym_b"),
        F.lit(pair_count).cast("bigint").alias("pair_count"),
        "n_merged",
        "vocab_size",
        "n_symbols",
    )
    return stats, nxt_seq.drop("sel")


def bpe_merge_steps(df: DataFrame) -> DataFrame:
    """Learn ``MERGES`` BPE merges over the whitespace token stream of
    ``df`` and return the merge table with the post-merge stream
    accounting: one row per merge step ``(step, sym_a, sym_b,
    pair_count, n_merged, vocab_size, n_symbols)``, where
    ``pair_count`` is the adjacency count that won the round,
    ``n_merged`` the occurrences actually merged under the greedy
    non-overlap rule, and ``vocab_size`` / ``n_symbols`` describe the
    stream AFTER the merge (the coverage trajectory — how fast the
    stream compresses as merges land)."""
    from .staging import stage

    seq = stage(
        df.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id"),
            F.posexplode(tokens("text")).alias("pos", "sym"),
        )
    )
    steps: list[DataFrame] = []
    for i in range(1, MERGES + 1):
        # _round eagerly checkpoints its output stream (lineage cut);
        # re-staging it here would only double-cache the same rows
        stats, seq = _round(seq, i)
        steps.append(stats)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.orderBy("step")


def _round_sql(i: int) -> str:
    """CTE block for merge round ``i`` (consumes ``seq{i-1}``,
    defines ``seq{i}`` and the 1-row ``stat{i}``)."""
    p, n = f"seq{i - 1}", f"seq{i}"
    return (
        f"adj{i} AS ("
        f"  SELECT doc_id, pos, sym,"
        f"         lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt"
        f"  FROM {p}"
        f"), top{i} AS ("
        f"  SELECT sym AS sym_a, nxt AS sym_b, count(*) AS pair_count"
        f"  FROM adj{i} WHERE nxt IS NOT NULL GROUP BY sym, nxt"
        f"  ORDER BY pair_count DESC, sym_a, sym_b LIMIT 1"
        f"), mk{i} AS ("
        f"  SELECT a.*, t.sym_a, t.sym_b, t.pair_count,"
        f"         (a.sym = t.sym_a AND a.nxt = t.sym_b) AS m"
        f"  FROM adj{i} a CROSS JOIN top{i} t"
        f"), isl{i} AS ("
        f"  SELECT *,"
        f"    SUM(CASE WHEN m THEN 1 ELSE 0 END) OVER"
        f"      (PARTITION BY doc_id ORDER BY pos"
        f"       ROWS UNBOUNDED PRECEDING) AS cumm,"
        f"    lag(m) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_m"
        f"  FROM mk{i}"
        f"), st{i} AS ("
        f"  SELECT *,"
        f"    last_value(CASE WHEN m AND NOT coalesce(prev_m, FALSE)"
        f"               THEN cumm END IGNORE NULLS) OVER"
        f"      (PARTITION BY doc_id ORDER BY pos"
        f"       ROWS UNBOUNDED PRECEDING) AS start"
        f"  FROM isl{i}"
        f"), sl{i} AS ("
        f"  SELECT *,"
        f"    (m AND (cumm - start) % 2 = 0) AS sel,"
        f"    lag(m AND (cumm - start) % 2 = 0) OVER"
        f"      (PARTITION BY doc_id ORDER BY pos) AS prev_sel"
        f"  FROM st{i}"
        f"), {n} AS ("
        f"  SELECT doc_id, pos,"
        f"    CASE WHEN sel THEN sym || ' ' || nxt ELSE sym END AS sym,"
        f"    sel"
        f"  FROM sl{i} WHERE NOT coalesce(prev_sel, FALSE)"
        f"), stat{i} AS ("
        f"  SELECT {i} AS step, t.sym_a, t.sym_b, t.pair_count,"
        f"    CAST(s.n_merged AS BIGINT) AS n_merged,"
        f"    s.vocab_size, s.n_symbols"
        f"  FROM (SELECT SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS n_merged,"
        f"               count(DISTINCT sym) AS vocab_size,"
        f"               count(*) AS n_symbols FROM {n}) s"
        f"  CROSS JOIN top{i} t"
        f")"
    )


def bpe_merge_steps_sql() -> str:
    """DuckDB twin of :func:`bpe_merge_steps`: the K rounds unrolled
    as CTE blocks (deterministic ties pinned by the same ORDER BY)."""
    blocks = ", ".join(_round_sql(i) for i in range(1, MERGES + 1))
    stats = " UNION ALL ".join(f"SELECT * FROM stat{i}" for i in range(1, MERGES + 1))
    return (
        "WITH seq0 AS ("
        "  SELECT doc_id,"
        "         unnest(range(len(toks))) AS pos,"
        "         unnest(toks) AS sym, FALSE AS sel"
        f"  FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents"
        "        WHERE text IS NOT NULL)"
        f"), {blocks} "
        f"{stats} ORDER BY step"
    )


def bpe_encode_stats(df: DataFrame) -> DataFrame:
    """APPLY the ``MERGES`` learned merges (the tokenizer
    train → apply pair): re-runs the same deterministic merge rounds
    over ``df``'s token stream and reports the per-document encoding
    effect — ``(doc_id, n_before, n_after, ratio)``, whitespace
    tokens before vs symbols after the K merges.  ``ratio`` is the
    per-doc compression the learned table buys; the corpus-level
    trajectory lives in :func:`bpe_merge_steps`.  Docs whose text is
    NULL are absent (no stream rows), matching the trainer."""
    from .staging import stage

    seq = stage(
        df.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id"),
            F.posexplode(tokens("text")).alias("pos", "sym"),
        )
    )
    before = seq.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_before")
    )
    cur = seq
    for i in range(1, MERGES + 1):
        # checkpointed inside _round — no re-stage (see bpe_merge_steps)
        _stats, cur = _round(cur, i)
    after = cur.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_after"))
    return (
        before.join(after, on="doc_id")
        .select(
            "doc_id",
            "n_before",
            "n_after",
            F.round(F.col("n_after") / F.col("n_before"), 6).alias("ratio"),
        )
        .orderBy("doc_id")
    )


def bpe_encode_stats_sql() -> str:
    """DuckDB twin of :func:`bpe_encode_stats`: the SAME unrolled
    round blocks as :func:`bpe_merge_steps_sql`, aggregated per doc
    instead of per step."""
    blocks = ", ".join(_round_sql(i) for i in range(1, MERGES + 1))
    return (
        "WITH seq0 AS ("
        "  SELECT doc_id,"
        "         unnest(range(len(toks))) AS pos,"
        "         unnest(toks) AS sym, FALSE AS sel"
        f"  FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents"
        "        WHERE text IS NOT NULL)"
        f"), {blocks}, "
        "__before AS (SELECT doc_id, count(*) AS n_before FROM seq0 GROUP BY doc_id), "
        f"__after AS (SELECT doc_id, count(*) AS n_after FROM seq{MERGES} GROUP BY doc_id) "
        "SELECT doc_id, n_before, n_after, "
        "round(n_after * 1.0 / n_before, 6) AS ratio "
        "FROM __before JOIN __after USING (doc_id) ORDER BY doc_id"
    )
