"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.10 — the (b)-tier escape hatch for semantics the
built-in windowed aggregations can't express).

The example operator is a per-user running profile: cumulative event
count, running value sum, and the timestamp of the last seen event,
emitted once per micro-batch per active user.  State lives in the
streaming state store partitioned by the grouping key — exactly the
layout a 1000-executor cluster shards.  State is never evicted: the
operator runs without a state timeout (below).

The handler receives Arrow-batched pandas frames (all rows of one key
in one micro-batch), not single rows: per-batch Python overhead, the
same batching contract as ``mapInPandas``.

No idle-state eviction: with ``ProcessingTimeTimeout`` Spark keeps
scheduling no-data micro-batches to fire pending timers, so an
``availableNow`` (run-to-completion) execution never terminates —
measured: ~100 empty batches in 90 s after the data batch finished.
A continuous stream that must bound state would need the timeout
back (``state.setTimeoutDuration`` plus a ``hasTimedOut`` branch).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

#: Output row per (user, micro-batch).
RUNNING_PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

#: State tuple carried between micro-batches.
RUNNING_PROFILE_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _fold_profile(
    carry: tuple[int, float, int], batches: Iterator[pd.DataFrame]
) -> tuple[int, float, int]:
    """The accumulation rule: fold one key's micro-batch frames into
    the carried ``(n_events, sum_value, last_ts_us)`` state."""
    n, s, last_us = carry
    for pdf in batches:
        n += len(pdf)
        # NULL-aware like the batch twin: F.sum/F.max over an all-NULL
        # group are NULL, so the fold must distinguish "no non-null
        # seen" (None) from 0.0 / the epoch — pandas' nan-skipping
        # .sum() returns 0.0 and an all-NaT .max() is the int64-min
        # sentinel, both of which would leak fake values into the
        # profile.
        vals = pdf["value"].dropna()
        if len(vals):
            s = (0.0 if s is None else s) + float(vals.sum())
        ts = pdf["ts"].dropna()
        if len(ts):
            us = int(ts.max().value // 1_000)
            last_us = us if last_us is None else max(last_us, us)
    return n, s, last_us


def _emit_profile(key: tuple, n: int, s: float, last_us: int) -> pd.DataFrame:
    """The per-key output row (microsecond state → naive-UTC
    timestamp)."""
    import datetime as _dt

    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [None if s is None else round(s, 2)],
            "last_ts": [
                None
                if last_us is None
                else _dt.datetime.fromtimestamp(
                    last_us / 1_000_000, tz=_dt.timezone.utc
                ).replace(tzinfo=None)
            ],
        }
    )


def _update_profile(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """The state-update handler: fold this micro-batch into the
    carried ``(n, sum, last_us)`` and emit the user's profile."""
    carry = state.get if state.exists else (0, None, None)
    n, s, last_us = _fold_profile(carry, batches)
    state.update((n, None if s is None else round(s, 6), last_us))
    yield _emit_profile(key, n, s, last_us)


def running_user_profile(events: DataFrame) -> DataFrame:
    """Apply the stateful per-user profile over a STREAMING events
    frame (``user_id, ts: timestamp, value: double``), with
    ``NoTimeout`` so run-to-completion (``availableNow``) executions
    terminate.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=RUNNING_PROFILE_SCHEMA,
        stateStructType=RUNNING_PROFILE_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
