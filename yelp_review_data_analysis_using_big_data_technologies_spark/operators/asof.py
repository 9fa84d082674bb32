"""As-of (nearest-timestamp) join — an operator Spark's DataFrame API
lacks natively, built as a composition of existing relational ops
(SURVEY.md §2.12; the (a)-tier strategy: no Python in the data path).

Semantics: for every left row, attach the single right row with the
greatest ``ts`` ≤ left.``ts`` (ties match) within the same
``user_id`` group.  Unmatched left rows keep
NULL match columns (left-outer semantics) — the same contract as
DuckDB's native ``ASOF LEFT JOIN``, which serves as the oracle twin.

Plan shape at scale (the whole point of this formulation): both
inputs are unioned and sorted ONCE per ``by``-partition —
``last(..., ignorenulls=True)`` over a running window propagates the
most recent right payload to each left row.  One shuffle on the group
key, zero join explosion, no per-key crossJoin; 1000-executor
behavior is a single sort-merge pass, exactly how a time-series
engine's as-of scan works.  A window-free broadcast variant is not
offered: an as-of by definition needs per-key time ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: Prefix of the matched right-side columns (``asof_ts``, ...).
_MATCH_PREFIX = "asof_"


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """As-of join ``left`` with ``right`` (see module docstring); the
    match columns come back prefixed ``asof_``.

    Duplicate (user_id, ts) right rows collapse deterministically
    (the lexicographically greatest payload wins) so the match is
    well-defined.
    """
    r_payload = [c for c in right.columns if c not in {"user_id", "ts"}]
    # a right row with NULL ts can be "nearest" to nothing (the SQL
    # twin's inequality never matches it), but in the window
    # formulation it would sort to the partition edge and leak its
    # payload into early left rows as a NULL-ts match
    right = right.filter(F.col("ts").isNotNull())
    r = right.select(
        "user_id",
        F.col("ts"),
        F.struct(F.col("ts").alias("__t"), *[F.col(c) for c in r_payload]).alias(
            "__rp"
        ),
    )
    r = r.groupBy("user_id", "ts").agg(F.max("__rp").alias("__rp"))

    l = left.withColumn("__side", F.lit(1))
    r = r.withColumn("__side", F.lit(0))
    u = l.unionByName(r, allowMissingColumns=True)

    # Right rows sort BEFORE a left row at the same instant (side 0 <
    # 1) so equal timestamps match; running `last` carries the latest
    # right payload forward.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("__m", F.last("__rp", ignorenulls=True).over(w))

    out = matched.filter(F.col("__side") == 1)
    # NULL ts / NULL key → no match, matching the ASOF-join twin's
    # SQL semantics (NULL compares with nothing).  Without this, NULL
    # keys form a matching "group" the equality join never has.
    valid = F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    out = out.withColumn("__m", F.when(valid, F.col("__m")))

    keep = [c for c in left.columns]
    return out.select(
        *keep,
        F.col("__m.__t").alias(f"{_MATCH_PREFIX}ts"),
        *[F.col(f"__m.{c}").alias(f"{_MATCH_PREFIX}{c}") for c in r_payload],
    )
