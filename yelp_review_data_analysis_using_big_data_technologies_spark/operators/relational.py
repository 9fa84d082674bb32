"""Relational core (SURVEY.md §2.2–2.6, §2.11).

Thin, scale-aware wrappers over the DataFrame API.  Everything here
compiles to a declarative Catalyst plan — column pruning, predicate
pushdown and join selection are the optimizer's job; these helpers
only add the hints the optimizer can't infer (broadcast for known-small
dims, key-scoped dedup instead of full-row shuffles).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rename_columns(df: DataFrame, renames: Mapping[str, str]) -> DataFrame:
    """P1 — bulk rename (reference scripts/etl.py:35-42 does it one
    ``withColumnRenamed`` per column; ``withColumnsRenamed`` is a single
    projection node)."""
    return df.withColumnsRenamed(dict(renames))


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """J1/J2 — USING-style equi-join (reference scripts/etl.py:46-48).

    ``broadcast_right=True`` hints a map-side join for dimension
    tables: at 100 TB the fact side never shuffles for a dim that fits
    in executor memory.  AQE will also convert sort-merge→broadcast at
    runtime when post-filter stats allow.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=list(on) if not isinstance(on, str) else on, how=how)


def stack_legs(legs: Mapping[str, DataFrame], columns: Sequence[str]) -> DataFrame:
    """§2.11 panel stacking — tag each leg with its ``op`` key and
    union them by name into ``(op, *columns)``.  A leg without one of
    ``columns`` gets NULLs of the type another leg gives it
    (``allowMissingColumns``), so legs project only the columns they
    fill; the final ``select`` pins the column order."""
    tagged = [df.withColumn("op", F.lit(op)) for op, df in legs.items()]
    out = tagged[0]
    for leg in tagged[1:]:
        out = out.unionByName(leg, allowMissingColumns=True)
    return out.select("op", *columns)


def dedup(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """F3 — ``dropDuplicates`` (reference scripts/etl.py:56 does the
    full-row form, which shuffles every column).  Prefer ``subset`` on
    the logical key at scale: the shuffle carries only key hashes and
    one surviving row per key."""
    return df.dropDuplicates(list(subset)) if subset else df.dropDuplicates()


def dedup_keyed_deterministic(
    df: DataFrame, keys: Sequence[str], tiebreak: Sequence[str] | None = None
) -> DataFrame:
    """Key-scoped dedup with a *deterministic* survivor.

    ``dropDuplicates(keys)`` keeps an arbitrary row per key — fine for
    idempotent pipelines, unverifiable for oracle comparison and
    re-runs.  This keeps the lexicographically-minimal row per key
    under a total order on ``tiebreak`` (default: all non-key columns),
    i.e. SQL ``row_number() over (partition by keys order by ... NULLS
    FIRST) = 1``.

    Implemented as ONE aggregation — ``min(struct(tiebreak...))`` with
    partial (map-side) combine — not a window.  The struct-typed
    buffer makes Spark pick SortAggregate (sort on the grouping key
    only), but partial aggregation still collapses each map partition
    to one row per key before the shuffle; the window formulation
    shuffles EVERY row and sorts on key+tiebreak (measured ~2× slower
    at sf0.1, and strictly more shuffled bytes at any scale).  Struct
    comparison is field-by-field in ``tiebreak`` order with NULL
    smallest, so an oracle twin must order ``ASC NULLS FIRST``.
    """
    keys = list(keys)
    order_cols = (
        list(tiebreak) if tiebreak else [c for c in df.columns if c not in keys]
    )
    rest = [c for c in df.columns if c not in keys and c not in order_cols]
    packed = df.groupBy(*keys).agg(
        F.min(F.struct(*(order_cols + rest))).alias("__survivor")
    )
    unpacked = packed.select(
        *keys, *[F.col(f"__survivor.{c}").alias(c) for c in order_cols + rest]
    )
    return unpacked.select(*df.columns)


def latest_by(df: DataFrame) -> DataFrame:
    """CDC latest-state compaction: keep the row with the GREATEST
    ``(ts, event_id)`` per ``user_id`` — the latest-wins twin of
    :func:`dedup_keyed_deterministic` (same single partial-aggregated
    ``max(struct(...))`` pass, no window sort), used to collapse a
    change stream into current state.  Remaining columns join the
    comparison struct after ``(ts, event_id)`` so ties resolve
    deterministically; oracle twin: ``row_number() OVER (PARTITION BY
    user_id ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST,
    rest DESC NULLS LAST) = 1`` (struct max puts NULL smallest, so
    DESC must sort nulls last)."""
    keys, order_cols = ["user_id"], ["ts", "event_id"]
    rest = [c for c in df.columns if c not in keys and c not in order_cols]
    packed = df.groupBy(*keys).agg(
        F.max(F.struct(*(order_cols + rest))).alias("__survivor")
    )
    unpacked = packed.select(
        *keys, *[F.col(f"__survivor.{c}").alias(c) for c in order_cols + rest]
    )
    return unpacked.select(*df.columns)


def duplicate_rows(df: DataFrame) -> DataFrame:
    """F1/A1 — the reference's duplicate-detection diagnostic
    (scripts/etl.py:54): group by the lineitem key ``(l_orderkey,
    l_linenumber)`` and keep groups with count > 1."""
    return df.groupBy("l_orderkey", "l_linenumber").count().filter(F.col("count") > 1)


def drop_nulls(df: DataFrame) -> DataFrame:
    """F2 — ``na.drop``: rows with a NULL in any column go (reference
    scripts/etl.py:58)."""
    return df.na.drop()


def grouped_top_k(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-k per group via a rank window — one shuffle on the group key.
    ``rank_col`` must not collide with an input column: the helper rank
    is dropped on the way out, so a collision would silently destroy
    the caller's column."""
    from pyspark.sql import Window

    if rank_col in df.columns:
        raise ValueError(
            f"rank_col {rank_col!r} collides with an input column; "
            "pass a unique helper name"
        )
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def scd2_intervals(df: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 history: every change row
    becomes a VERSION with a validity interval — ``valid_from`` is the
    row's own ``ts``, ``valid_to`` the NEXT change's (half-open
    ``[from, to)``), and the latest version per key carries NULL
    ``valid_to`` + ``is_current = true``.  The historical complement
    of :func:`latest_by`: that collapses a change stream to current
    state, this preserves every state with the time range it held, so
    as-of queries become a plain range predicate
    (``valid_from <= t AND (valid_to > t OR valid_to IS NULL)``).

    One ``lead()`` window per ``user_id`` — a single shuffle on the
    key, the same partitioning any downstream per-key query wants.
    The full-row tiebreak ``(event_id, event_type, value)`` orders
    simultaneous changes deterministically (and must match the
    oracle's ORDER BY): duplicate event_ids (replayed CDC loads)
    otherwise leave a real window tie and the engines pair values
    with validity intervals differently.
    """
    from pyspark.sql import Window

    order = [F.asc(c) for c in ("ts", "event_id", "event_type", "value")]
    w = Window.partitionBy("user_id").orderBy(*order)
    return (
        df.withColumn("valid_from", F.col("ts"))
        .withColumn("valid_to", F.lead("ts").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
