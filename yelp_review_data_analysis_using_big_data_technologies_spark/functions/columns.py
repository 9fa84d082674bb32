"""Tiny shared Column utilities."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_col(value: Column | str) -> Column:
    """Accept a column NAME or a Column expression — the coercion every
    name-or-expression operator signature in this package needs (one
    definition; modules import it instead of keeping private copies)."""
    return F.col(value) if isinstance(value, str) else value
