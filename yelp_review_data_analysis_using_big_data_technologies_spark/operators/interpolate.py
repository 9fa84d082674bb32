"""Per-key linear-interpolation join — evaluate a sampled value series
at arbitrary query timestamps (SURVEY.md §2.12; the (a)-tier strategy:
a composition of existing relational ops, no Python in the data path).

Semantics: for every query row ``(by, t)`` find the series points
``prev`` (greatest ts ≤ t) and ``next`` (smallest ts ≥ t) within the
same ``by`` group (``by`` is ``user_id``, the timestamps ``ts``) and
return the linear interpolation::

    v(t) = prev.v + (next.v − prev.v) · (t − prev.ts) / (next.ts − prev.ts)

An exact-timestamp hit returns that point's value.  Outside the series
range the result clamps to the nearest endpoint (numpy.interp's
contract).  Queries whose key has no series rows at all are NULL
(left-outer contract, matching the as-of join).  A NULL query
timestamp or NULL ``by`` key is NULL, full stop — SQL join semantics
(NULL matches nothing), pinned explicitly because the window
formulation would otherwise hand NULL-ts rows the series extremum
(desc ordering parks them past the last point) and group NULL keys
into a matching partition, both diverging from the ASOF-join twin.

Plan shape at scale — the reason this is NOT two joins: both inputs
union and sort ONCE per ``by`` partition (the asof_join formulation,
operators/asof.py); ``prev`` is a running ``last(ignorenulls)`` over
ascending time, ``next`` the same over descending time — two window
passes over one shuffle, zero join explosion.  Timestamps enter the
arithmetic as ``unix_micros`` integers so Spark and the DuckDB twin
(two native ASOF joins + identical lerp expression) agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def interpolate_join(queries: DataFrame, series: DataFrame) -> DataFrame:
    """Attach ``interp_value`` = the series' linearly-interpolated
    value at each query row's ``ts`` (see module docstring).  Duplicate
    series points at one ``(user_id, ts)`` instant collapse
    deterministically to the greatest value first."""
    # a series point with NULL ts belongs to no position on the time
    # axis — drop it (same reasoning as asof_join's right-side filter)
    series = series.filter(F.col("ts").isNotNull())
    # cast("timestamp") first: parquet TIMESTAMP_NTZ columns reject
    # unix_micros directly, and the session pins UTC so the cast is
    # value-preserving.
    s = series.select(
        "user_id",
        F.col("ts"),
        F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("__t"),
            F.col("value").cast("double").alias("__v"),
        ).alias("__sp"),
    )
    s = s.groupBy("user_id", "ts").agg(F.max("__sp").alias("__sp"))

    q = queries.withColumn("__side", F.lit(1))
    s = s.withColumn("__side", F.lit(0))
    u = q.unionByName(s, allowMissingColumns=True)

    # Series rows sort BEFORE a query row at the same instant (side
    # 0 < 1) in BOTH directions, so an exact-timestamp hit sees the
    # point as its prev AND its next.
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = (
        u.withColumn("__prev", F.last("__sp", ignorenulls=True).over(wb))
        .withColumn("__next", F.last("__sp", ignorenulls=True).over(wf))
        .filter(F.col("__side") == 1)
    )

    t = F.unix_micros(F.col("ts").cast("timestamp"))
    pt, pv = F.col("__prev.__t"), F.col("__prev.__v")
    nt, nv = F.col("__next.__t"), F.col("__next.__v")
    lerp = pv + (nv - pv) * (t - pt) / (nt - pt)
    # outside the series range: clamp to the nearest endpoint
    interp = (
        F.when(pt.isNotNull() & nt.isNotNull() & (nt != pt), lerp)
        .when(pt.isNotNull() & nt.isNotNull(), pv)
        .when(pt.isNotNull(), pv)
        .when(nt.isNotNull(), nv)
    )
    # NULL ts / NULL key → NULL (module docstring): without this guard
    # a NULL-ts query row clamps to the series extremum and NULL keys
    # interpolate against the NULL-key "group"
    valid = F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    return m.select(
        *queries.columns, F.round(F.when(valid, interp), 6).alias("interp_value")
    )


def interpolate_join_sql() -> str:
    """DuckDB twin of :func:`interpolate_join` (clamping) over the
    ``events`` clicks (queries) and purchases (series): backward +
    forward native ASOF joins feeding the SAME lerp expression
    (``epoch_us`` integers, identical operation order) as
    :func:`interpolate_join`.  It selects exactly the query columns
    — the Spark twin returns those, and a bare ``*`` would leak all
    three relations' duplicate ts/key columns into the shape.  The
    deduped series is a CTE so the twin aggregates it once, not once
    per ASOF side (DuckDB accepts WITH inside a derived table, so
    panels can still wrap this SQL)."""
    dedup = (
        "SELECT user_id, ts, max(CAST(value AS DOUBLE)) AS __v "
        "FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') "
        "GROUP BY user_id, ts"
    )
    lerp = (
        "p.__v + (n.__v - p.__v) * (epoch_us(q.ts) - epoch_us(p.ts))"
        " / (epoch_us(n.ts) - epoch_us(p.ts))"
    )
    return (
        f"WITH __dedup AS ({dedup}) "
        "SELECT q.event_id, q.user_id, q.ts, round(CASE "
        # explicit NULL-ts guard: DuckDB's native ASOF sorts a NULL
        # query ts past the series and hands it the extremum point, so
        # a single-point series would "clamp" a NULL timestamp — the
        # engine's contract is NULL in, NULL out
        f"WHEN q.ts IS NULL THEN NULL "
        f"WHEN p.ts IS NOT NULL AND n.ts IS NOT NULL "
        f"  AND n.ts <> p.ts THEN {lerp} "
        f"WHEN p.ts IS NOT NULL AND n.ts IS NOT NULL THEN p.__v "
        "WHEN p.ts IS NOT NULL THEN p.__v "
        "WHEN n.ts IS NOT NULL THEN n.__v "
        "END, 6) + 0 AS interp_value "
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') q "
        f"ASOF LEFT JOIN __dedup p "
        f"  ON q.user_id = p.user_id AND q.ts >= p.ts "
        f"ASOF LEFT JOIN __dedup n "
        f"  ON q.user_id = n.user_id AND q.ts <= n.ts"
    )
