"""Table reconciliation — keyed row diff between two relations
(SURVEY.md §2 maintenance family: the verification step after every
backfill, migration, or pipeline-version swap).

``table_diff`` classifies every key as ``added`` (right only),
``removed`` (left only), ``changed`` (both sides, payload differs) or
``unchanged``; ``diff_summary`` folds that to one row of counts — the
cheap invariant a nightly job asserts before promoting a rewrite.

Scale shape: each side collapses to ``(key, payload_hash)`` IN ITS
OWN PROJECTION before the join, so the full-outer shuffle carries two
slim columns per row instead of the whole payload — at 100 TB the
diff costs one shuffle of ~16 bytes/row, not a table copy.  The hash
is a 64-bit ``xxhash64`` over the compare columns in a FIXED order,
made null-POSITIONAL by interleaving an ``isNull`` flag before every
value: Spark's hash functions SKIP null inputs (the seed passes
through unchanged), so a bare ``xxhash64(a, b)`` would collide
``(5.0, NULL)`` with ``(NULL, 5.0)`` — a column-shift corruption is
exactly what a promotion gate must catch.  The non-null boolean flag
pins each value to its position, so ``(1, NULL)`` ≠ ``(1, '')`` and
shifted payloads hash differently.  A changed row escaping as a
collision still needs a 64-bit birthday hit on a single key — the
oracle twin instead compares columns explicitly (``IS DISTINCT
FROM``), which doubles as the collision cross-check at gate scale.

Duplicate keys: the diff contract requires keys unique per side (it
reconciles STATE, not event logs).  Rather than silently mis-pairing,
duplicate keys are surfaced as their own ``duplicate_key`` status —
the caller decides whether that is corruption or calls a dedup first.
NULL keys are likewise surfaced (``null_key``), never equi-joined.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _keyed_hash(
    df: DataFrame, key_cols: Sequence[str], compare_cols: Sequence[str]
) -> DataFrame:
    # interleave a never-null isNull flag before each value so a NULL
    # occupies its position in the hash input (xxhash64 skips nulls)
    hashed = [
        e for c in compare_cols for e in (F.col(c).isNull(), F.col(c))
    ]
    return df.select(*key_cols, F.xxhash64(*hashed).alias("__h"))


def table_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """Diff keyed on ``o_orderkey`` → ``(o_orderkey, status)`` with
    status one of ``added | removed | changed | unchanged |
    duplicate_key | null_key``.

    Every non-key column is compared (in LEFT's column order, the
    fixed hash order).  Key sets must exist on both sides; a
    side-specific payload column would silently escape comparison, so
    the diff raises if the two sides' non-key columns differ.
    """
    key_cols = ["o_orderkey"]
    compare_cols = [c for c in left.columns if c not in key_cols]
    rc = [c for c in right.columns if c not in key_cols]
    if set(compare_cols) != set(rc):
        raise ValueError(
            f"sides disagree on payload columns (left-only "
            f"{sorted(set(compare_cols) - set(rc))}, right-only "
            f"{sorted(set(rc) - set(compare_cols))})"
        )
    if not compare_cols:
        raise ValueError("no payload column to compare")

    def _classify(df: DataFrame, side: str) -> DataFrame:
        # one partial aggregate per side: (key) → (n occurrences, one
        # hash) — map-side combine, and the join then carries
        # |distinct keys| slim rows (a count WINDOW would shuffle and
        # keep every input row)
        keyed = (
            _keyed_hash(df, key_cols, compare_cols)
            .groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias(f"__n_{side}"),
                F.min("__h").alias(f"__h_{side}"),
            )
        )
        null_key = F.lit(False)
        for k in key_cols:
            null_key = null_key | F.col(k).isNull()
        return keyed.withColumn(f"__nullk_{side}", null_key)

    l = _classify(left, "l")
    r = _classify(right, "r")
    joined = l.join(r, on=key_cols, how="full_outer")
    status = (
        F.when(
            F.coalesce(F.col("__nullk_l"), F.col("__nullk_r")), "null_key"
        )
        .when(
            (F.coalesce(F.col("__n_l"), F.lit(0)) > 1)
            | (F.coalesce(F.col("__n_r"), F.lit(0)) > 1),
            "duplicate_key",
        )
        .when(F.col("__h_l").isNull(), "added")
        .when(F.col("__h_r").isNull(), "removed")
        .when(F.col("__h_l") == F.col("__h_r"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(*key_cols, status.alias("status"))


def diff_summary(left: DataFrame, right: DataFrame) -> DataFrame:
    """One row per status with its ``o_orderkey`` count — the assertion surface
    (``added = expected_inserts AND changed = expected_updates AND
    removed = 0`` is the promotion gate a backfill job runs)."""
    diff = table_diff(left, right)
    return (
        diff.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )
