"""Custom aggregates via Pandas grouped-agg UDFs (SURVEY.md §2.8 —
the (b)-tier escape hatch for aggregates no built-in expresses).

The reference has no UDAFs; the engine documents the ONE sanctioned
way to add them: ``@pandas_udf`` grouped-agg functions.  Unlike
row-at-a-time Python UDFs (banned repo-wide by the plan lint), a
grouped-agg UDF receives each group's column as ONE Arrow-backed
``pd.Series`` — the Python boundary is crossed once per group, not
per row, and the surrounding plan (partial shuffle on the group key)
stays identical to a native aggregate's.

The example operator is median absolute deviation — a robust spread
measure that genuinely needs a UDAF (it nests two order statistics:
``median(|x − median(x)|)``, which no single-pass built-in computes).
Order statistics are EXACT arithmetic (midpoint of two doubles, no
libm), so numpy here and DuckDB's native ``mad()`` in the oracle agree
bit-for-bit.

Scale caveat: a grouped-agg UDF materializes EACH GROUP's column as
one in-memory series on one executor, so it only fits bounded or
high-cardinality groups.  For few huge groups (this table's 5 event
types at 100 TB) the same statistic is two exact ``median``
aggregates joined on the key — distributed sort-based partials, no
Python, no whole-group materialization — at the cost of a second pass
over the input.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def median_abs_deviation(v: pd.Series) -> float:
    """Unscaled MAD: ``median(|x − median(x)|)`` over the group."""
    import numpy as np

    arr = v.dropna().to_numpy(dtype="float64")
    if arr.size == 0:
        return None
    med = float(np.median(arr))
    return float(np.median(np.abs(arr - med)))
