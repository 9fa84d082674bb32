"""Date/time expression builders (C3–C4; SURVEY.md §2.7).

Reference: ``to_date`` at scripts/etl.py:105, ``year``/``month`` at
glue_job.py:76-77.  Day-of-week naming backs the dashboard's
"Most Active Day" tile (SURVEY.md §2.9 Q5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.columns import as_col as _as_col



def to_date_col(col: Column | str) -> Column:
    """C3 — parse string/timestamp → DATE (reference scripts/etl.py:105).

    ``try_to_date``, not ``to_date``: the reference ran non-ANSI
    Spark 3/Glue where a malformed date yields NULL, but this repo's
    sessions keep Spark 4's default ANSI mode, under which plain
    ``to_date`` ABORTS the job on the first dirty string
    (CAST_INVALID_INPUT / CANNOT_PARSE_TIMESTAMP).  One bad row must
    not kill a 100 TB pipeline — NULL-on-malformed is the documented
    contract, matching the reference and DuckDB's TRY_CAST."""
    c = _as_col(col)
    return F.try_to_date(c)


def day_name() -> Column:
    """Full weekday name ("Sunday") of ``o_orderdate``, dashboard Q5.
    DuckDB twin: ``dayname(o_orderdate)``."""
    return F.date_format(F.col("o_orderdate"), "EEEE")
