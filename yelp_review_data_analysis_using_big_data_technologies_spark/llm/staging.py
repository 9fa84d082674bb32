"""Staging-cache registry for the LLM-pipeline operators.

The LSH/Jaccard operators persist a small staging relation (tokenized
shingles / postings / band keys) because their plans reference it
several times — without the cache the tokenizer re-runs once per
reference (measured 4-7× at sf0.1).  ``persist()`` alone leaks: the
cached blocks outlive the query, and repeated invocations in one
session (the driver's multi-query correctness run, bench loops)
accumulate executor memory until eviction pressure.

This module is the explicit release hook: operators route their
``persist()`` through :func:`stage`, and callers that run many queries
in one session call :func:`release_staging` after each result is
materialized.  ``scripts/check_oracle.py`` and ``bench.py`` do this
per query; ``tests/test_llm.py`` asserts the catalog is clean after
release.  At warehouse scale the equivalent is a staging TABLE with an
explicit lifecycle, never an implicitly-leaked cache.

Scoping (r10): the registry is keyed, never one flat list.  By
default every entry is keyed by the CALLING THREAD, so two queries
running concurrently in one session — e.g. a streaming ingest (its
micro-batches run through ``streaming.windows.drain``, which releases
each batch's staging on the stream-execution thread) alongside a
batch LSH query on the main thread — can no longer unpersist each other's staging
mid-flight.  Correctness never depended on it (persist is an
optimization) but the measured 4-7× tokenizer re-run would silently
return.  For stage/release pairs that legitimately cross threads,
wrap the staging calls in :func:`staging_scope` and release by the
same explicit tag.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

#: registry of persisted relations, keyed by scope tag — a
#: ("thread", ident) tuple by default, ("named", tag) inside
#: :func:`staging_scope`
_STAGED: dict[tuple[str, object], list[DataFrame]] = {}
_LOCK = threading.Lock()
_SCOPE = threading.local()


def _current_key() -> tuple[str, object]:
    named = getattr(_SCOPE, "tag", None)
    if named is not None:
        return ("named", named)
    return ("thread", threading.get_ident())


def stage(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later release under the
    current scope (calling thread, or the active :func:`staging_scope`
    tag)."""
    staged = df.persist()
    with _LOCK:
        _STAGED.setdefault(_current_key(), []).append(staged)
    return staged


@contextmanager
def staging_scope(tag: str) -> Iterator[None]:
    """Route :func:`stage` calls in this block under an explicit named
    tag, releasable from ANY thread via ``release_staging(tag=tag)`` —
    the escape hatch for stage/release pairs that cross threads
    (streaming maintenance loops, thread-pooled query runners)."""
    prev = getattr(_SCOPE, "tag", None)
    _SCOPE.tag = tag
    try:
        yield
    finally:
        _SCOPE.tag = prev


def spread(df: DataFrame) -> DataFrame:
    """Give a CPU-heavy narrow stage at least cluster-wide parallelism.

    A small parquet table (one row group) scans as ONE input split, so
    every expensive per-row projection above it — shingling, MinHash
    signatures, unrolled dot products — serializes onto a single core
    while the other 31 idle (measured: the whole banded-LSH staging ran
    as one 5.8 s task at sf0.1).  ``repartition(n)`` alone does NOT fix
    it: filter pushdown drags the computing projection below the new
    exchange, back onto the single-partition side.  Persisting the
    repartitioned NARROW projection is the optimizer barrier that keeps
    the heavy compute above the 32-way split (project down to the
    columns you need BEFORE calling this — the cache holds raw rows).

    Scale shape: when the input already has ≥ cluster parallelism
    (any real warehouse table), this is a NO-OP — no shuffle, no cache.
    The explicit partition count matters: AQE's size-based coalescing
    would immediately re-fuse a byte-tiny-but-CPU-heavy stage back to
    one task, but user-specified repartition counts are exempt."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return stage(df.repartition(target))


def release_staging(blocking: bool = True, tag: str | None = None) -> int:
    """Unpersist every staged relation registered under the current
    scope (or under ``tag`` when given) since its last release.  Call
    AFTER the query result has been materialized — releasing earlier
    just disables the cache the plan was built around.  Returns the
    number of relations released.  Other scopes' staging is untouched;
    use :func:`release_all_staging` for session teardown.

    Blocking by default: async unpersist hands the block-removal work
    to the next query's execution window, which serially poisons
    multi-query runs (bench measured 3-4× inflation on the queries
    following a heavy cached one)."""
    key = ("named", tag) if tag is not None else _current_key()
    with _LOCK:
        staged = _STAGED.pop(key, [])
    for df in staged:
        df.unpersist(blocking=blocking)
    return len(staged)


def release_all_staging() -> int:
    """Unpersist EVERY scope's staging — session/test teardown only
    (a concurrent query's cache does not survive this, by design)."""
    with _LOCK:
        groups = list(_STAGED.values())
        _STAGED.clear()
    n = 0
    for staged in groups:
        for df in staged:
            df.unpersist(blocking=True)
            n += 1
    return n
