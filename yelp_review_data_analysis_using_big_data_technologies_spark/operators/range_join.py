"""Range (interval-containment) join — point-in-interval matching
without a cartesian product (SURVEY.md §2.12 custom-operator tier).

Spark accepts ``l.ts BETWEEN r.start AND r.end`` join conditions but,
lacking an equi-key, plans them as BroadcastNestedLoopJoin — O(|L|·|R|)
comparisons, a non-starter at 100 TB.  This operator adds the missing
equi-key by time-bucketizing both sides: points land in one bucket,
intervals explode into every bucket they overlap, and the join runs as
a plain shuffle/broadcast HASH join on (keys…, bucket) followed by the
exact containment filter.  Work scales with |L| + Σ interval-spans,
and the shuffle key is the bucket — the standard spatial/temporal
binning trick.

Each matching pair is emitted exactly once with no dedup pass: a
point's bucket is unique, so the pair only materializes in the bucket
the point occupies.

Bucket width trades replication against selectivity: wide buckets
replicate intervals less but admit more false candidates; tune it to
≈ the median interval length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def interval_overlap_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """INTERVAL × INTERVAL overlap join (the sibling of
    :func:`range_join`'s point-in-interval): every (left, right) pair
    whose half-open spans ``[l_start, l_end)`` / ``[r_start, r_end)``
    intersect, key-scoped by ``user_id``, with ``overlap_seconds``
    attached.

    Same bucketization trick — both sides explode into the one-hour
    time buckets they cover and the join runs as a hash join on
    (keys…, bucket) + the exact predicate ``l_s < r_e AND r_s < l_e``
    — plus the classic FIRST-OVERLAPPING-CELL dedup: a pair sharing
    several buckets is emitted only in the bucket
    ``greatest(bucket(l_start), bucket(r_start))`` (always a bucket
    both sides cover when they overlap), so no distinct pass and no
    second shuffle.  Work scales with Σ interval-spans/bucket, the
    standard temporal-binning bound.

    Contracts: rows with NULL bounds carry no geometry and drop;
    EMPTY intervals (``end <= start``) overlap nothing by convention
    (the raw predicate would let a zero-length interval "overlap"
    anything containing its point — filtered explicitly).  Overlap
    length is computed on exact ``unix_micros`` integers and divided
    once, so both engines agree to the 6-dp contract."""
    by_cols = ["user_id"]
    clash = (set(left.columns) & set(right.columns)) - set(by_cols)
    if clash:
        raise ValueError(
            f"non-key columns must be disjoint; rename {sorted(clash)}"
        )
    bucket_us = 3600 * 1_000_000

    def _us(c):
        # TIMESTAMP_NTZ-proof (the decay.py idiom; session pins UTC)
        return F.unix_micros(F.col(c).cast("timestamp"))

    def _prep(df, s, e):
        valid = (
            F.col(s).isNotNull() & F.col(e).isNotNull() & (_us(s) < _us(e))
        )
        # half-open [s, e): the end bucket is the one containing the
        # last INCLUDED microsecond, e − 1
        return (
            df.where(valid)
            .withColumn("__s", _us(s))
            .withColumn("__e", _us(e))
            .withColumn("__sb", F.expr(f"__s div {bucket_us}"))
            .withColumn(
                "__b",
                F.explode(
                    F.sequence(
                        F.col("__sb"),
                        F.expr(f"(__e - 1) div {bucket_us}"),
                    )
                ),
            )
        )
    l = _prep(left, "l_start", "l_end")
    r = _prep(right, "r_start", "r_end")
    cond = [l["__b"] == r["__b"]] + [l[c] == r[c] for c in by_cols]
    joined = (
        l.join(r, cond, "inner")
        .where((l["__s"] < r["__e"]) & (r["__s"] < l["__e"]))
        .where(l["__b"] == F.greatest(l["__sb"], r["__sb"]))
    )
    out_cols = (
        [l[c] for c in left.columns]
        + [r[c] for c in right.columns if c not in by_cols]
    )
    return joined.select(
        *out_cols,
        F.round(
            (
                F.least(l["__e"], r["__e"]) - F.greatest(l["__s"], r["__s"])
            ).cast("double")
            / 1_000_000,
            6,
        ).alias("overlap_seconds"),
    )


def range_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Inner join of each ``points`` row to every ``intervals`` row
    of the same ``user_id`` whose ``[win_start, win_end]`` contains
    its ``ts`` (closed on both ends), over 30-minute buckets."""
    by_cols = ["user_id"]
    start, end = "win_start", "win_end"
    clash = (set(points.columns) & set(intervals.columns)) - set(by_cols)
    if clash:
        raise ValueError(
            f"non-key columns must be disjoint; rename {sorted(clash)}"
        )

    def _bucket(c):
        return (F.unix_timestamp(F.col(c)) / 1800).cast("long")

    p = points.withColumn("__b", _bucket("ts"))
    i = intervals.withColumn(
        "__b",
        F.explode(F.sequence(_bucket(start), _bucket(end))),
    )
    cond = [p["__b"] == i["__b"]] + [p[c] == i[c] for c in by_cols]
    joined = p.join(i, cond, "inner").where(
        p["ts"].between(i[start], i[end])
    )
    out_cols = (
        [p[c] for c in points.columns]
        + [i[c] for c in intervals.columns if c not in by_cols]
    )
    return joined.select(*out_cols)
