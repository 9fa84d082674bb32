"""Bloom-filter runtime join pruning (SURVEY.md §4 shuffle discipline).

Spark's own ``InjectRuntimeFilter`` rule builds a
``bloom_filter_agg``/``might_contain`` pair under AQE, but only when
its creation-side heuristics fire (selective filter, size thresholds),
and the expression is not registered for end users — it cannot be
requested, persisted, or reused across queries (``bloom_filter_agg``
resolves to UNRESOLVED_ROUTINE from SQL).  This module is the explicit
version of the same 100-TB pattern: when a fact-side shuffle join keeps
only the rows matching a *selective but broadcast-ineligible*
dimension, build a Bloom filter over the dimension's join keys and drop
non-matching fact rows BEFORE they pay shuffle I/O.

The build is fully distributed — no key list ever reaches the driver:

1. per dimension key, ``NUM_HASHES`` bit positions via double hashing
   (Kirsch–Mitzenmacher 2006): ``g_i = h1 + i*h2 mod m`` with
   ``h1 = xxhash64(key)`` and ``h2`` an odd murmur3 step (odd ⇒ coprime
   with the power-of-two ``m``, so the stride never degenerates);
2. positions fold into 64-bit words with a ``bit_or`` partial aggregate
   (map-side combine; the shuffle carries at most
   ``min(NUM_HASHES·|dim|, NUM_BITS)`` distinct positions);
3. the sketch is ONE row — a DENSE ``array<bigint>`` of exactly
   ``NUM_BITS/64`` words (8 KiB at 2^16 bits) — broadcast onto the
   fact scan as a bounded 1-row relation.

The dense array is load-bearing, not cosmetic: Spark's ``element_at``
on a MAP column is a LINEAR SCAN of the entries (ArrayBasedMapData has
no hash index), so a map-shaped sketch costs
``NUM_HASHES × num_words`` comparisons PER FACT ROW — measured as a
multi-minute stall at 20M rows that the array's O(1) ordinal access
reduces to milliseconds.  The zero-fill is a range left-join (W rows,
broadcast), never a per-element map probe.

Semantically transparent: a Bloom filter has no false negatives, so
``bloom_pruned_join == plain join`` for inner/semi joins (the driver
gate checks exactly that; false positives only waste bandwidth, and the
final equi-join removes them).  Outer joins are rejected — pruning the
probe side would drop null-extended rows.

Sizing: for ``n`` keys and false-positive rate ``p``, the textbook
``m = -n·ln p / (ln 2)²`` and ``h = (m/n)·ln 2``, with ``m`` rounded
up to a power of two so the double-hash stride (odd step) stays
coprime with it; 2^16 bits / 5 hashes holds ~6.8k keys at p ≈ 1%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: internal column names on the 1-row sketch relation
_WORDS = "__bf_words"
_NBITS = "__bf_num_bits"
_SKETCH_COLS = (_WORDS, _NBITS)

#: sketch size in bits (a power of two >= 64)
NUM_BITS = 1 << 16
NUM_HASHES = 5


def _positions(key: Column, num_bits: int) -> list[Column]:
    """The ``NUM_HASHES`` bit positions for one key.

    ``pmod`` runs BEFORE the ``h1 + i·h2`` sum: both operands drop
    under ``num_bits`` first, so the largest intermediate is
    ``(NUM_HASHES+1)·num_bits`` — nowhere near BIGINT range, which
    under ANSI mode would abort the job on overflow (the r8
    extreme-magnitude lesson applied at design time).
    """
    m = F.lit(num_bits).cast("bigint")
    h1 = F.pmod(F.xxhash64(key), m)
    # murmur3 int → odd bigint step (2k+1 never overflows: |k| < 2^31);
    # odd ⇒ coprime with the power-of-two m, the stride never collapses
    h2 = F.pmod(F.hash(key).cast("bigint") * F.lit(2) + F.lit(1), m)
    return [
        F.pmod(h1 + F.lit(i).cast("bigint") * h2, m) for i in range(NUM_HASHES)
    ]


def build_bloom(dim: DataFrame) -> DataFrame:
    """One-row sketch relation ``(words array<bigint> of exactly
    NUM_BITS/64 words, NUM_BITS)`` over ``dim["s_suppkey"]``.

    NULL keys are skipped — NULL never equi-matches, so setting bits
    for them would only add false positives.  The sketch is a plain
    DataFrame: persistable (e.g. parquet next to an ingest batch) and
    reusable across any number of fact scans, which is the capability
    Spark's injected runtime filter does not expose.
    """
    k = F.col("s_suppkey")
    num_words = NUM_BITS // 64
    pos = F.explode(F.array(*_positions(k, NUM_BITS))).alias("__pos")
    words = (
        dim.where(k.isNotNull())
        .select(pos)
        .select(
            F.shiftright(F.col("__pos"), 6).cast("bigint").alias("__word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))"
            ).alias("__word_bit"),
        )
        .groupBy("__word_idx")
        .agg(F.bit_or("__word_bit").alias("__word"))
    )
    # dense zero-fill: range(W) LEFT JOIN the set words (W bounded by
    # NUM_BITS, both sides tiny relative to the data) — never a
    # per-element map probe
    spark = dim.sparkSession
    dense = (
        spark.range(num_words)
        .join(words, F.col("id") == F.col("__word_idx"), "left")
        .select(
            F.col("id"),
            F.coalesce(F.col("__word"), F.lit(0).cast("bigint")).alias("__word"),
        )
    )
    return dense.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("id", "__word"))),
            lambda s: s["__word"],
        ).alias(_WORDS),
        F.lit(NUM_BITS).alias(_NBITS),
    )


def bloom_prune(fact: DataFrame, sketch: DataFrame) -> DataFrame:
    """Filter ``fact`` to rows whose ``l_suppkey`` might be in the
    sketch.

    The 1-row sketch broadcast is a bounded BroadcastNestedLoopJoin by
    construction (same class as the whitelisted 1-row aggregate tiles).
    NULL fact keys are dropped here too — they cannot inner/semi join,
    and culling them early is exactly the filter's job.  The word
    lookup is an O(1) ORDINAL access into the dense word array
    (``try_element_at``: 1-based, and no ANSI out-of-bounds abort —
    positions are bounded by construction, so the coalesce(0) arm is
    defensive only), and the variable bit shift goes through SQL
    ``shiftleft`` over materialized position columns — everything
    stays JVM-side inside whole-stage codegen.

    Probe parameters are the SKETCH'S: bit positions must be derived
    with the exact bit count the sketch was built with, or matching
    fact rows silently vanish — the one failure mode a Bloom prune
    promises never to have.  It is read eagerly on the driver from
    the ``_NBITS`` column the sketch row carries (a bounded 1-row
    lookup — for a parquet-persisted sketch this is a footer-sized
    read), so a sketch written under another ``NUM_BITS`` still
    probes with its own geometry.
    """
    # bounded: the sketch is one row; only the int param is fetched
    # (the word array is not selected)
    params = sketch.select(_NBITS).first()
    if params is None:
        raise ValueError("sketch relation is empty — not a built sketch")
    num_bits = int(params[0])
    k = F.col("l_suppkey")
    tmp = fact.join(F.broadcast(sketch))
    pos_names: list[str] = []
    for i, p in enumerate(_positions(k, num_bits)):
        name = f"__bf_pos_{i}"
        tmp = tmp.withColumn(name, p)
        pos_names.append(name)
    pred = k.isNotNull()
    for name in pos_names:
        word = F.coalesce(
            F.try_element_at(
                F.col(_WORDS),
                (F.shiftright(F.col(name), 6) + F.lit(1)).cast("int"),
            ),
            F.lit(0).cast("bigint"),
        )
        bit = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({name}, 64) AS INT))"
        )
        pred = pred & (word.bitwiseAND(bit) != F.lit(0).cast("bigint"))
    return tmp.where(pred).drop(*_SKETCH_COLS, *pos_names)


def bloom_pruned_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Inner ``fact ⋈ dim`` on ``l_suppkey = s_suppkey`` with a Bloom
    pre-filter on the fact side:
    dropping fact rows that provably cannot match preserves the inner
    join exactly (no false negatives).  An outer flavor would lose
    null-extended rows, so none is offered.
    """
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import stage

    # Staged (r11 advice): the sketch plan is a full dim scan +
    # aggregate with TWO consumers — bloom_prune's eager driver-side
    # bit-count read (a 1-row .first()) and the broadcast at join
    # execution.  Unstaged, the dim aggregate ran twice; persisting
    # the 1-row sketch makes the lookup free.
    sketch = stage(build_bloom(dim))
    pruned = bloom_prune(fact, sketch)
    return pruned.join(dim, pruned["l_suppkey"] == dim["s_suppkey"], "inner")
