"""Tiny shared Column utilities."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_col(value: Column | str) -> Column:
    """Accept a column NAME or a Column expression — the coercion every
    name-or-expression operator signature in this package needs (one
    definition; modules import it instead of keeping private copies)."""
    return F.col(value) if isinstance(value, str) else value


#: measure-magnitude sanity bound (r9 float-cancellation class, the
#: double-precision sibling of the r8 SANE_CHARS_MAX arm): a ±1e14
#: spike makes every double SUM order-dependent beyond the 6 dp
#: contract (an ulp at 1e14 is ~0.016, and Spark adds shuffle
#: partials in layout order while DuckDB adds serially — measured
#: drift ~0.7 absolute across 1/3/17/32-partition layouts at
#: sf0.001).  Measures beyond ±1e9 are corrupt-sensor territory for
#: this schema (fixture values are O(10³)) and are excluded exactly
#: like NaN/Inf; within the bound, n·ulp error stays far below the
#: 6 dp rounding at any realistic group size.
SANE_VALUE_MAX = 1e9


def finite_value() -> Column:
    """Keep NULL rows, drop non-finite OR insane-magnitude measures —
    the entry-level contract for moment/order-statistic/histogram
    operators (r7; magnitude arm r9).  A single NaN/Inf measurement
    otherwise job-aborts the histogram (ANSI int-cast overflow),
    crashes DuckDB's stddev (Out of Range), or silently diverges the
    MAD (Spark median skips NaN, DuckDB's propagates it); a ±1e14
    spike makes distributed sums layout-dependent past the rounding
    contract (see :data:`SANE_VALUE_MAX`).  NULLs stay: they are
    counted by ``count(*)`` and skipped by every aggregate
    identically on both engines, so the filter is a no-op on every
    clean fixture.  SQL twin: ``FINITE_VALUE_SQL``."""
    c = F.col("value")
    return c.isNull() | (
        ~F.isnan(c) & (F.abs(c) <= F.lit(SANE_VALUE_MAX))
    )


FINITE_VALUE_SQL = (
    f"(value IS NULL OR (isfinite(value) AND abs(value) <= {SANE_VALUE_MAX!r}))"
)

#: the events relation under the :func:`finite_value` contract, as the
#: DuckDB twins of the events operators read it
FINITE_EVENTS_SQL = f"(SELECT * FROM events WHERE {FINITE_VALUE_SQL})"
