"""Batch data-quality constraint checks (SURVEY.md §2 catalog/QA
surface).

The reference trusts its inputs (no test file, tests/test.py is
empty); a warehouse deployment runs dbt-test-shaped assertions over
the published tables.  Each primitive here returns a ONE-ROW
``(rule, violations)`` DataFrame, so a panel of assertions is a
``unionByName`` of independent partial aggregates — each rule scans
only its own table (column-pruned), nothing joins except the FK
check's anti-join, and the whole panel is a driver-hashable report
rather than a boolean (orchestration wants the counts, not just
pass/fail).

Violation semantics (pinned by the oracle twins):

- unique: rows belonging to a key group with more than one row
  (i.e. ALL rows of every duplicated key).
- foreign key: NON-NULL child rows with no matching parent key
  (left-anti count).  NULL child keys are skipped — the dbt
  relationships-test convention (a NULL child key is a missing
  reference, not a broken one; declare a separate not-null rule if
  NULLs are illegal).
- accepted values: NON-NULL values outside the allow-list (NULL is a
  missing value, not an illegal one — again a separate not-null rule).
- not null: NULL rows in the column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_violations(
    df: DataFrame, keys: Sequence[str], rule: str
) -> DataFrame:
    """Rows whose ``keys`` tuple occurs more than once."""
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    return per_key.filter(F.col("__n") > 1).agg(
        F.lit(rule).alias("rule"),
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("violations"),
    )


def fk_violations(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    rule: str,
) -> DataFrame:
    """Child rows with no matching parent (orphans) — one left-anti
    join on the key; at scale the parent side projects to the single
    key column before shuffling.  NULL child keys are skipped (dbt
    relationships-test convention; see module docstring)."""
    child = child.filter(F.col(child_key).isNotNull())
    orphans = child.select(F.col(child_key)).join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        on=child_key,
        how="left_anti",
    )
    return orphans.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("violations"),
    )


def accepted_values_violations(
    df: DataFrame, col: str, values: Sequence[str], rule: str
) -> DataFrame:
    """Non-NULL values outside the allow-list."""
    return df.filter(
        F.col(col).isNotNull() & ~F.col(col).isin(list(values))
    ).agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("violations"),
    )


def not_null_violations(customer: DataFrame) -> DataFrame:
    """NULL rows in ``customer.c_name``."""
    return customer.filter(F.col("c_name").isNull()).agg(
        F.lit("not_null:customer.c_name").alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("violations"),
    )


def constraints_report(checks: Sequence[DataFrame]) -> DataFrame:
    """Union the one-row primitives into the assertion panel, ordered
    by rule name for a stable report."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("rule")
