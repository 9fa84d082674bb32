"""Sinks (SURVEY.md §2.1, S3–S5, S7).

The reference coalesces to 1 partition for its final CSV/Parquet
writes (glue_job.py:88, scripts/etl.py:176) — a single-task write that
cannot scale.  Our writers default to partitioned multi-file output;
``coalesce`` is an explicit small-export option only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _validate_path(path: str) -> None:
    """Pre-write guard (S7; reference glue_job.py:84-85)."""
    if not path or not str(path).strip():
        raise ValueError("output path must be a non-empty string")


def hadoop_path_exists(spark, path: str) -> bool:
    """Filesystem-agnostic existence probe through the Hadoop
    FileSystem API.  ``os.path.exists`` only answers for local paths;
    a bootstrap check that silently returns False for an ``hdfs://``
    or ``s3a://`` table would re-initialize (and discard) the remote
    state on every call — the probe must resolve the path's OWN
    filesystem from the Hadoop configuration."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def delete_partition_dirs(
    spark,
    path: str,
    partition_by: list[str],
    tuples,
) -> None:
    """Delete specific Hive-style partition directories under ``path``
    through the Hadoop FileSystem API (so it works on any scheme, not
    just local disk).

    Needed because DYNAMIC partition overwrite only rewrites
    partitions PRESENT in the written DataFrame: a merge that leaves a
    touched partition with zero surviving rows writes nothing for it,
    the stale directory survives, and its rows resurface on the next
    read.  Callers compute ``touched - present`` and hand the emptied
    tuples here BEFORE the dynamic overwrite.

    Directory names use the same Hive path escaping Spark's write path
    uses (``ExternalCatalogUtils.escapePathName``); a raw ``{c}={v}``
    join would miss any escaped directory (space, ``/``, ``:`` …) and
    silently keep it."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    _esc = (
        jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    )
    for t in tuples:
        segs = "/".join(
            f"{_esc(c)}="
            f"{'__HIVE_DEFAULT_PARTITION__' if v is None else _esc(str(v))}"
            for c, v in zip(partition_by, t)
        )
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{segs}")
        fs = p.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    coalesce: int | None = None,
) -> None:
    """Parquet sink (S3).  At scale: pass ``partition_by`` (e.g.
    ["year", "month"]) so downstream reads get partition pruning;
    never ``coalesce`` below the cluster's write parallelism."""
    _validate_path(path)
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Incremental partition maintenance: overwrite ONLY the
    partitions present in ``df`` (dynamic partitionOverwriteMode),
    leaving sibling partitions untouched — the idempotent daily-batch
    upsert pattern.  Static mode (Spark's default) would clobber the
    whole root; at a 100 TB table that difference is the job.

    CONCURRENCY CONTRACT (r8 probe, tests/test_concurrent_writers.py):
    this is the one writer safe for CONCURRENT publishers into one
    table — dynamic mode stages under a per-job
    ``.spark-staging-<uuid>`` directory, so parallel jobs (same
    session or separate applications) never share scratch space, and
    each commits only its own partitions.  Keep concurrent writers on
    DISJOINT partition sets; overlap degrades to last-committer-wins
    per partition (whole-partition replace, never a file mix — but
    nothing coordinates who wins).  Never have two applications
    APPEND to a shared root instead: append stages under the shared
    ``<root>/_temporary/0`` and the first commit deletes the other
    writer's staged files (scripts/probe_concurrent_writers.py at c84e9fc
    demonstrates the loss)."""
    _validate_path(path)
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def compact_partitions(
    spark,
    path: str,
    partition_by: list[str],
    files_per_partition: int = 1,
) -> None:
    """Small-file compaction: rewrite each partition directory into
    ``files_per_partition`` files.  Hash-repartitioning on the
    partition columns co-locates each partition value in one task (→
    one output file per directory); for >1, a row-hash salt fans each
    value out over that many tasks.  Streaming/incremental sinks
    accrete small files; scans pay for them in task-launch overhead
    and footer reads — compaction is routine table maintenance at
    scale, rewritten in place via dynamic partition overwrite."""
    _validate_path(path)
    df = spark.read.parquet(path)
    keys = [F.col(c) for c in partition_by]
    if files_per_partition <= 1:
        compacted = df.repartition(*keys)
    else:
        # salt only over HASHABLE columns: F.hash rejects MapType
        # (and maps nested in structs/arrays), and the salt needs
        # distribution, not a full-row fingerprint.  All-map tables
        # fall back to a uniform random salt — still deterministic
        # file COUNT per directory, which is all compaction promises.
        def _hashable(dt) -> bool:
            from pyspark.sql.types import ArrayType, MapType, StructType

            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return _hashable(dt.elementType)
            if isinstance(dt, StructType):
                return all(_hashable(f.dataType) for f in dt.fields)
            return True

        cols = [f.name for f in df.schema.fields if _hashable(f.dataType)]
        salt_src = (
            F.hash(*[F.col(c) for c in cols])
            if cols
            else F.hash(F.monotonically_increasing_id())
        )
        salt = F.pmod(salt_src, F.lit(files_per_partition))
        compacted = (
            df.withColumn("__salt", salt)
            .repartition(*keys, F.col("__salt"))
            .drop("__salt")
        )
        if not cols:
            # monotonically_increasing_id is nondeterministic under
            # task retry (SPARK-23207): pin the salted assignment the
            # same way skew.with_salt does, so a retried upstream task
            # cannot re-deal rows across output files mid-write.  (The
            # scan above is a direct parquet read today, but the
            # contract shouldn't depend on that staying true.)
            compacted = compacted.localCheckpoint(eager=True)
    overwrite_partitions_dynamic(compacted, path, partition_by)


def partition_prune_predicate(
    existing: DataFrame,
    touched: list,
    partition_by: list[str],
):
    """Filter predicate selecting EXACTLY the partitions named by the
    ``touched`` rows (distinct partition-value tuples, bounded by the
    partition count) — the pruned-rewrite shape shared by
    :func:`upsert_by_key` and the streaming additive-merge sink.

    Two conjuncts: per-column ``isin``/``isNull`` filters that push to
    the scan as DIRECTORY-level partition pruning (a rectangular
    superset of the touched tuples), and one null-safe struct-``isin``
    that keeps the row set exact.  Both are single IN nodes with N
    literals, so the expression stays flat at thousands of touched
    partitions (an OR-chain of per-tuple conjunctions would not)."""
    part_types = dict(existing.select(*partition_by).dtypes)
    # exact tuple membership (struct comparison is null-safe)
    match = F.struct(*partition_by).isin(
        *[
            F.struct(
                *[
                    F.lit(row[c]).cast(part_types[c]).alias(c)
                    for c in partition_by
                ]
            )
            for row in touched
        ]
    )
    # per-column superset prune — pushable to the scan as partition
    # filters (IN + IS NULL), unlike the struct predicate above
    for c in partition_by:
        vals = {row[c] for row in touched}
        non_null = [v for v in vals if v is not None]
        col_pred = (
            F.col(c).isin(non_null) if non_null else F.lit(False)
        )
        if None in vals:
            col_pred = col_pred | F.col(c).isNull()
        match = match & col_pred
    return match


def latest_version_rows(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
) -> DataFrame:
    """Per-key LATEST-VERSION-WINS collapse of ``existing`` ∪
    ``updates``: the surviving row for each key is the one with the
    highest ``version_col`` — the conditional-merge arm of a lakehouse
    ``MERGE ... WHEN MATCHED AND s.v > t.v`` without a table format.

    Tie order (all deterministic): higher version first; at equal
    version the EXISTING row beats any update, so replaying a batch
    whose rows are already merged leaves every row unchanged;
    update-vs-update ties (duplicate versions inside one delivery)
    fall back to the full remaining row, descending, so overlapping
    batch replays are order-independent.  NULL versions sort LAST — a
    versionless row never beats a versioned one.  One row_number
    window over (touched rows ∪ updates), the same per-touched-
    partition shuffle volume the anti-join replace path pays."""
    from pyspark.sql import Window

    src = updates.withColumn("__src", F.lit(1))
    if existing is not None:
        src = existing.withColumn("__src", F.lit(0)).unionByName(src)
    others = [c for c in updates.columns if c not in (*keys, version_col)]
    w = Window.partitionBy(*keys).orderBy(
        F.col(version_col).desc_nulls_last(),
        F.col("__src").asc(),
        *(F.col(c).desc_nulls_last() for c in others),
    )
    return (
        src.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def upsert_by_key(
    spark,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: list[str],
    version_col: str | None = None,
) -> None:
    """MERGE-style upsert onto a partitioned parquet table without a
    lakehouse table format: rows in ``updates`` replace same-key rows,
    new keys insert, and ONLY the partitions the updates touch are
    read and rewritten.

    Mechanics: collect the touched partition VALUES (bounded by the
    partition count, never row data), statically prune the read to
    those partitions, anti-join away old versions of updated keys,
    union the updates, dynamic-overwrite.  The rewritten byte volume
    is per-touched-partition, not per-table — at 100 TB that is the
    difference between a merge and a migration.  ``localCheckpoint``
    cuts the read lineage so Spark allows writing over the path being
    read; on a cluster, stage to reliable storage instead.

    Prune shape: per-column ``isin``/``isNull`` conjuncts reach the
    scan as partition filters (directory-level pruning, a rectangular
    superset of the touched tuples), and one struct-``isin`` keeps the
    row set exact.  Both are single IN nodes with N literals — at
    thousands of touched partitions the expression stays flat, unlike
    an OR-chain of per-partition conjunctions.  All comparisons are
    null-safe: a NULL partition value (the __HIVE_DEFAULT_PARTITION__
    directory) is read back and merged, never silently replaced by
    only the update rows.

    Partition MOVES are handled: an update that relocates a key to a
    different partition value must also delete the key's OLD row, so
    the touched set is the union of the updates' partitions and the
    partitions currently holding any updated key — found with one
    narrow key+partition-column scan of the table semi-joined against
    the (checkpointed) update keys.  That scan is the price of
    merge-by-key without a key index, the same cost every
    non-indexed lakehouse MERGE pays; tables whose keys never change
    partition can skip it by construction (the semi-join finds only
    already-touched partitions and adds nothing).

    Replace semantics are LAST-DELIVERED-WINS: whatever ``updates``
    holds replaces the table's same-key rows, so out-of-order CDC
    delivery (an at-least-once source replaying stale rows in a later
    batch) regresses keys to old values.  Pass ``version_col`` for
    LATEST-VERSION-WINS (:func:`latest_version_rows`): an update only
    replaces a row whose version is strictly lower, stale and
    replayed updates are no-ops (their touched partitions rewrite
    byte-identically), and the table converges to the per-key
    max-version state regardless of batch order or overlap.  The
    versioned path assumes (and maintains) a key-unique table — the
    unversioned path's output is only key-unique when each batch is;
    bootstrap through :func:`latest_version_rows` first.

    SINGLE-WRITER by contract: the merge is read-modify-write (read
    touched partitions, merge, overwrite), so two concurrent merges
    into one table lose updates no matter how careful each is — the
    streaming sinks serialize their batches through the checkpoint,
    and any other caller needs external coordination (r8
    concurrent-writer probe)."""
    _validate_path(path)
    # one materialization: the probe, the key collect, the old-partition
    # lookup, and the merged write would otherwise each re-execute the
    # updates' upstream plan
    updates = updates.localCheckpoint(eager=True)
    if not updates.head(1):
        return  # nothing to merge; rewriting zero partitions is a no-op
    existing = spark.read.parquet(path)
    upd_key_rows = updates.select(
        *[F.col(k).alias(f"__u_{k}") for k in keys]
    ).distinct()
    move_cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__u_{k}"))
        move_cond = c if move_cond is None else move_cond & c
    old_parts = (
        # dict.fromkeys dedup: a merge key that is ALSO a partition
        # column would otherwise appear twice in the projection and
        # make the semi-join / select(*partition_by) below ambiguous
        existing.select(*dict.fromkeys([*keys, *partition_by]))
        .join(upd_key_rows, on=move_cond, how="left_semi")
        .select(*partition_by)
        .distinct()
        .collect()
    )
    new_parts = updates.select(*partition_by).distinct().collect()
    seen, touched = set(), []
    for r in [*new_parts, *old_parts]:
        t = tuple(r[c] for c in partition_by)
        if t not in seen:
            seen.add(t)
            touched.append(r)
    pruned = existing.filter(
        partition_prune_predicate(existing, touched, partition_by)
    )
    if version_col is None:
        # eqNullSafe, not `on=keys`: equi-join null semantics would
        # fail to anti-join an existing NULL-key row away when its
        # replacement arrives (NULL = NULL is NULL), leaving BOTH
        # versions in the table — the same null-safety the partition
        # predicate above already guarantees for partition values.
        keep = pruned.join(upd_key_rows, on=move_cond, how="left_anti")
        merged = keep.unionByName(updates.select(*existing.columns))
    else:
        merged = latest_version_rows(
            pruned, updates.select(*existing.columns), keys, version_col
        )
    merged = merged.localCheckpoint(eager=True)
    # dynamic overwrite only rewrites partitions PRESENT in the write:
    # a touched partition whose every row moved away ends up empty and
    # would silently keep its stale directory — delete those directly.
    present = {
        tuple(r[c] for c in partition_by)
        for r in merged.select(*partition_by).distinct().collect()
    }
    delete_partition_dirs(spark, path, partition_by, seen - present)
    overwrite_partitions_dynamic(merged, path, partition_by)


def delete_where(
    spark,
    path: str,
    predicate,
    partition_by: list[str],
) -> int:
    """Targeted row deletion on a partitioned parquet table — the
    retention / right-to-be-forgotten shape (r13): remove every row
    matching ``predicate`` (a SQL string or Column) and rewrite ONLY
    the partitions that held a match.  Returns the number of touched
    partitions.

    Mechanics mirror :func:`upsert_by_key`: one predicate-pushed,
    column-pruned scan finds the touched partition VALUES (bounded by
    the partition count); the rewrite reads just those partitions and
    keeps the non-matching rows; partitions left with ZERO survivors
    are deleted outright (dynamic overwrite writes nothing for them,
    so without the explicit delete the stale directory would keep
    every row it was supposed to lose).  At 100 TB the rewritten byte
    volume is per-touched-partition — a user-erasure request touches
    the handful of partitions holding that user, not the table.

    DELETE null semantics: only rows where the predicate is TRUE are
    removed — a NULL predicate keeps the row, exactly like SQL
    ``DELETE WHERE``.

    A predicate over ONLY partition columns (TTL: ``o_year < cutoff``)
    is the cheap case twice over: the touched-partition probe prunes
    to directory metadata, and every touched partition empties, so
    the whole delete degenerates to directory removals with no row
    rewrite.  SINGLE-WRITER by contract, like every read-modify-write
    here."""
    _validate_path(path)
    existing = spark.read.parquet(path)
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    touched = (
        existing.filter(cond).select(*partition_by).distinct().collect()
    )
    if not touched:
        return 0
    pruned = existing.filter(
        partition_prune_predicate(existing, touched, partition_by)
    )
    # keep NULL-predicate rows: `~cond` alone is NULL for them and the
    # filter would silently delete every row the predicate can't judge
    survivors = pruned.filter(cond.isNull() | ~cond)
    # lineage cut so Spark allows writing over the path being read
    # (batch maintenance context — same trade as upsert_by_key)
    survivors = survivors.localCheckpoint(eager=True)
    seen = {tuple(r[c] for c in partition_by) for r in touched}
    present = {
        tuple(r[c] for c in partition_by)
        for r in survivors.select(*partition_by).distinct().collect()
    }
    delete_partition_dirs(spark, path, partition_by, seen - present)
    if present:
        # survivors only holds touched-partition rows, so the dynamic
        # overwrite rewrites exactly the non-emptied touched dirs
        overwrite_partitions_dynamic(survivors, path, partition_by)
    return len(seen)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) parquet table for CO-LOCATED joins.

    Both sides of a recurring large-large join written with the same
    bucket count and key join WITHOUT any Exchange: each task zips
    bucket i with bucket i — the shuffle is paid once at write time
    and amortized over every subsequent join/aggregation on the key
    (see tests/test_plans.py guard).  ``sort_cols`` additionally
    pre-sorts within buckets so sort-merge joins skip the sort.
    Bucketing requires the table catalog (``saveAsTable``); pass
    ``path`` to pin the files outside the warehouse dir."""
    _validate_path(table)
    writer = df.write.mode(mode).format("parquet").bucketBy(
        buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    coalesce: int | None = None,
) -> None:
    """JSON-lines sink — the inverse of the reference's ingest format
    (scripts/etl.py:21-27 reads Yelp JSON-lines); one JSON object per
    line, one file per partition unless ``coalesce`` is given."""
    _validate_path(path)
    if coalesce is not None:
        df = df.coalesce(coalesce)
    df.write.mode(mode).json(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` on the
    cluster keys (one disjoint key range per output file, sampled
    range boundaries) + ``sortWithinPartitions`` (monotone row groups
    inside each file).  Every parquet footer then carries tight
    min/max stats for the cluster keys, so range predicates skip
    whole files and row groups — the single-key-prefix form of
    Z-ordering, with no custom format needed.  Use for the columns
    your hottest range filters hit (dates, ids); pick ``n_files`` ≈
    data size / target file size (128-512 MB at warehouse scale)."""
    _validate_path(path)
    if not cluster_by:
        raise ValueError("cluster_by must name at least one column")
    (
        df.repartitionByRange(n_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode(mode)
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """MULTI-key data-skipping layout: interleave the bits of each
    (min-max normalized) Z-order key into one Morton code, then
    range-partition + sort on it — points close in the N-dimensional
    key space land in the same files, so every parquet footer carries
    tight min/max on EVERY Z key and predicates on ANY of them skip
    files (``write_clustered`` only skips on its leading key).

    Normalization here is min-max over one bounded agg (deterministic,
    single job); production systems scale by quantiles instead so
    heavy skew can't crowd the code space — same layout machinery,
    different scaling — which is the documented upgrade path.  Use
    2-4 keys; each added key halves the per-key resolution
    (``bits·k ≤ 63``)."""
    _validate_path(path)
    if not zorder_by or len(zorder_by) < 2:
        raise ValueError("zorder_by needs >= 2 columns (use write_clustered for 1)")
    k = len(zorder_by)
    if bits * k > 63:
        raise ValueError(f"bits*keys = {bits * k} exceeds the 63-bit code space")
    span = (1 << bits) - 1
    # Temporal keys — the canonical data-skipping columns — normalize
    # through an epoch cast (timestamp → microseconds, date → days):
    # min/max would otherwise collect datetime objects that float()
    # cannot consume.
    types = dict(df.select(*zorder_by).dtypes)
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    key_exprs = {}
    for c in zorder_by:
        t = types[c]
        if t.startswith("timestamp"):
            key_exprs[c] = F.unix_micros(F.col(c).cast("timestamp"))
        elif t == "date":
            key_exprs[c] = F.datediff(F.col(c), F.lit("1970-01-01"))
        elif t in numeric or t.startswith("decimal"):
            key_exprs[c] = F.col(c)
        else:
            # fail at build time with the reason, not inside float()
            # on a collected min/max value
            raise ValueError(
                f"zorder key {c!r} has unsupported type {t!r}: z-order "
                "interleaving needs a numeric/temporal axis (map string "
                "ids through a hash or numeric surrogate first)"
            )
    row = df.agg(
        *[F.min(key_exprs[c]).alias(f"__mn_{i}") for i, c in enumerate(zorder_by)],
        *[F.max(key_exprs[c]).alias(f"__mx_{i}") for i, c in enumerate(zorder_by)],
    ).first()
    scaled = []
    for i, c in enumerate(zorder_by):
        if row[f"__mn_{i}"] is None:
            raise ValueError(
                f"zorder key {c!r} has no non-NULL values to normalize "
                "(empty input or all-NULL column)"
            )
        mn = float(row[f"__mn_{i}"])
        mx = float(row[f"__mx_{i}"])
        width = (mx - mn) or 1.0
        scaled.append(
            F.floor(
                (key_exprs[c].cast("double") - F.lit(mn))
                / F.lit(width)
                * span
            ).cast("long")
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    coalesce: int | None = None,
) -> None:
    """ORC sink — the other columnar interchange format warehouses
    expect (Hive-ecosystem consumers read ORC where everything else
    reads parquet); same partitioning contract as
    :func:`write_parquet`."""
    _validate_path(path)
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    coalesce: int | None = None,
) -> None:
    """CSV sink with header (S4; reference glue_job.py:88-92).
    ``coalesce=1`` reproduces the reference's single-file export but is
    opt-in — the default writes one file per partition.

    Losslessness (r8 quoting probe): Spark's CSV writer TRIMS leading/
    trailing whitespace by default (``ignoreLeadingWhiteSpace`` /
    ``ignoreTrailingWhiteSpace`` default true on WRITE) — silently
    lossy, so both are pinned off here.  Embedded newlines are quoted
    by the writer; reading them back requires ``read_csv``'s
    ``multiLine`` (see its docstring for the split-parallelism
    trade-off)."""
    _validate_path(path)
    if coalesce is not None:
        df = df.coalesce(coalesce)
    (
        df.write.mode(mode)
        .option("header", header)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )
