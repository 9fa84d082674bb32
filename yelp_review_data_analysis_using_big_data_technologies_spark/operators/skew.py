"""Skew-handling primitives (SURVEY.md §4 "shuffle/partitioning").

AQE's skew-join splitting (on in ``session.py``) covers sort-merge
joins at runtime; these helpers cover the case AQE can't touch — a
broadcast-ineligible dimension joined on a hot key — with the classic
salting construction:

- the skewed (big) side gets a deterministic salt in ``[0, buckets)``
  derived by hashing the whole row, spreading one hot key over
  ``buckets`` shuffle partitions;
- the other side is replicated once per salt value (an ``explode`` of
  a literal range — ``buckets×`` its size, which is why this is for
  DIMENSION-sized right sides);
- the join runs on ``(key, salt)``.

Semantically transparent: results equal the unsalted operation (the
driver checks the salted join against a plain-SQL oracle).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F


SALT_COL = "__salt"

#: Salt values of :func:`salted_join`: a hot key's rows spread over
#: this many shuffle partitions.
BUCKETS = 8


def with_salt(df: DataFrame) -> DataFrame:
    """Attach a salt in ``[0, BUCKETS)``: a hash of the full row plus a
    per-row sequence component.  The row hash alone would map
    EXACT-DUPLICATE rows of a hot key (a common skew shape — repeated
    events) onto one salt value, defeating the spread; feeding
    ``monotonically_increasing_id`` INTO the hash separates duplicates.
    The id goes in as a hash input, never as a long addition — summing
    a full-range ``xxhash64`` with the id overflows near
    ``Long.MAX``, and Spark 4 runs ANSI mode by default, so at
    billion-row scale the addition form crashes with
    ARITHMETIC_OVERFLOW.

    The salted frame is MATERIALIZED (``localCheckpoint(eager=True)``,
    the same pinning ``range_join`` applies to its ``__pid``): the id
    component is a function of partition layout and row position, so
    a map-task retry after a fetch failure would re-salt rows
    differently than the copies reducers already consumed — the
    SPARK-23207 silent double-count/drop class.  Checkpointing
    computes every salt exactly once; a lost checkpoint block then
    fails the job LOUDLY instead of corrupting partials.  Do not
    persist the salt as a stable row key across jobs."""
    return df.withColumn(
        SALT_COL,
        F.pmod(
            F.xxhash64(*df.columns, F.monotonically_increasing_id()),
            F.lit(BUCKETS),
        ).cast("int"),
    ).localCheckpoint(eager=True)


def replicate_for_salt(df: DataFrame) -> DataFrame:
    """Cross the (small) side with every salt value — ``BUCKETS×``
    blow-up, acceptable only for dimension-sized inputs."""
    return df.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(BUCKETS)]))
    )


def salted_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Inner equi-join on ``c_custkey`` where ``left`` is large with
    skewed keys and ``right`` is small but above the broadcast
    threshold.  Joins on ``(c_custkey, salt)`` so the hot key's rows
    land in ``BUCKETS`` different shuffle partitions instead of one
    straggler task.

    The salting is transparent for an inner join (every left row
    carries exactly one salt; the replicated right side only ever
    matches or vanishes).  A right/full join would surface the 8×
    replicated right rows as spurious null-left output, so none is
    offered."""
    salted_left = with_salt(left)
    salted_right = replicate_for_salt(right)
    return salted_left.join(salted_right, on=["c_custkey", SALT_COL]).drop(SALT_COL)
