"""Multimodal column plumbing (SURVEY.md §2.12).

Images/audio/video ride through the engine as opaque ``binary``
columns plus a typed metadata struct; all per-item work (decode,
feature extraction, resizing, frame sampling) runs as Arrow-batched
``mapInPandas`` — the ONLY place Python touches rows, and it touches
them a columnar batch at a time, partition-parallel.

The decoder is a deterministic, content-derived stand-in for a codec
(the SQL oracle can reproduce it); a real codec would plug in at the
same ``mapInPandas`` site.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output of the feature-extraction pass.
MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a codec: derives (width, height,
    n_frames) purely from the byte length so Spark and the SQL oracle
    can agree on the result."""
    n = len(payload)
    return (n % 64 + 1, n // 64 + 1, n % 16 + 1)


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract every media item.

    ``mapInPandas`` streams Arrow batches through one Python worker per
    partition — per-batch overhead, not per-row; the output schema is
    declared up front so downstream plans stay fully typed.  The
    decode itself is the stub described in the module docstring.
    """
    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode(p if p is not None else b"") for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                }
            )

    return media.mapInPandas(_batches, schema=MEDIA_FEATURES_SCHEMA)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter used by tests and the driver check: dress the synthetic
    ``documents`` table as a media table (utf-8 payload bytes + fake
    metadata) so the multimodal plumbing is exercised end-to-end
    without a binary fixture."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("fake").alias("format"),
            F.concat(F.lit("synthetic://"), F.col("source")).alias("source_uri"),
        ).alias("meta"),
    )


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video-shaped media: one output row per
    sampled frame, 4 frames chosen evenly across the item's frame count
    (deterministic — index ``i`` samples frame
    ``floor(i * n_frames / 4)``).

    The frame COUNT comes from the decode step, and the expansion runs JVM-side as a
    ``posexplode`` over a generated index array — the Python boundary
    is only the per-item decode, never the row fan-out.  When several
    sample slots land on the same frame (more samples than frames)
    the SMALLEST ``sample_idx`` survives — a deterministic rule
    (``dropDuplicates`` keeps an arbitrary row, which an oracle
    cannot replay) expressed as one partial-aggregated min per
    ``(media_id, frame_idx)``.  Actual frame PIXEL extraction would
    replace the byte-range annotation with a codec call in the same
    mapInPandas shape as :func:`extract_features`.
    """
    feats = extract_features(media).select("media_id", "n_frames")
    # explode, not posexplode: over sequence(0, n-1) the position IS
    # the element, so one exploded column serves as both sample index
    # and the numerator of the even-coverage division
    idx = F.sequence(F.lit(0), F.lit(3))
    sampled = feats.select(
        "media_id",
        "n_frames",
        F.explode(idx).alias("sample_idx"),
    ).select(
        "media_id",
        "sample_idx",
        F.floor(F.col("sample_idx") * F.col("n_frames") / 4)
        .cast("int")
        .alias("frame_idx"),
        "n_frames",
    )
    return (
        sampled.filter(F.col("frame_idx") < F.col("n_frames"))
        .groupBy("media_id", "frame_idx")
        .agg(
            F.min("sample_idx").alias("sample_idx"),
            F.min("n_frames").alias("n_frames"),
        )
        .select("media_id", "sample_idx", "frame_idx", "n_frames")
    )


#: (format name, magic prefix) in DETECTION ORDER — prefix classes
#: only (full header validation is the decode step's job); WAV is
#: special-cased (RIFF....WAVE has a hole at bytes 4-8)
_MAGIC_PREFIXES: tuple[tuple[str, bytes], ...] = (
    ("png", b"\x89PNG\r\n\x1a\n"),
    ("gif", b"GIF87a"),
    ("gif", b"GIF89a"),
    ("bmp", b"BM"),
    ("jpeg", b"\xff\xd8"),
)


def detected_format_col(payload: Column | str) -> Column:
    """Container format detected from MAGIC BYTES alone →
    ``png | gif | bmp | jpeg | wav | empty | missing | unknown``.
    A prefix CLASSIFIER, deliberately not a validator: a text payload
    that happens to start with ``BM`` classifies as ``bmp`` (the
    dimension parse / decode step is where full validation lives) —
    the audit's job is to catch payloads whose bytes DISAGREE with
    their declared metadata, cheaply, JVM-side, at scan speed."""
    p = F.col(payload) if isinstance(payload, str) else payload

    def pre(magic: bytes) -> Column:
        return F.substring(p, 1, len(magic)) == F.lit(magic)

    out = F.when(p.isNull(), "missing").when(F.length(p) == 0, "empty")
    for name, magic in _MAGIC_PREFIXES:
        out = out.when(pre(magic), name)
    wav = (F.substring(p, 1, 4) == F.lit(b"RIFF")) & (
        F.substring(p, 9, 4) == F.lit(b"WAVE")
    )
    return out.when(wav, "wav").otherwise("unknown")


def media_integrity_audit(media: DataFrame) -> DataFrame:
    """Data-quality audit for a media table → one row per item:
    ``(media_id, n_bytes, declared_format, detected_format,
    format_matches, n_copies, is_canonical)``.

    Answers the three questions a multimodal ingest asks before
    paying for decode: do the payload BYTES agree with the declared
    format (magic-byte detection — corrupt uploads and mislabeled
    assets fail here, not three stages later inside a codec); how
    large is the payload; and is it an exact duplicate of an
    already-seen payload (``sha2`` over the binary column — the
    keep-first exact dedup, with the smallest ``media_id`` as the
    canonical copy).

    Scale shape: detection and hashing are per-row projections on the
    scan; the dedup is one window over the 64-char hash (shuffle key
    = sha, never the payload bytes — at 100 TB the shuffle carries
    hashes + ids, not media).  NULL payloads are their own class
    (``missing``, never grouped: n_copies = 1, canonical)."""
    from pyspark.sql import Window

    p = F.col("payload")
    sha = F.when(p.isNotNull(), F.sha2(p, 256))
    base = media.select(
        "media_id",
        F.coalesce(F.length(p), F.lit(0)).cast("bigint").alias("n_bytes"),
        F.col("meta.format").alias("declared_format"),
        detected_format_col(p).alias("detected_format"),
        sha.alias("__sha"),
    )
    w = Window.partitionBy("__sha")
    wr = Window.partitionBy("__sha").orderBy("media_id")
    return (
        base.withColumn(
            "format_matches",
            F.col("detected_format") == F.col("declared_format"),
        )
        .withColumn(
            "n_copies",
            F.when(
                F.col("__sha").isNotNull(),
                F.count(F.lit(1)).over(w),
            )
            .otherwise(F.lit(1))
            .cast("bigint"),
        )
        .withColumn(
            "is_canonical",
            F.when(
                F.col("__sha").isNotNull(), F.row_number().over(wr) == 1
            ).otherwise(F.lit(True)),
        )
        .select(
            "media_id",
            "n_bytes",
            "declared_format",
            "detected_format",
            "format_matches",
            "n_copies",
            "is_canonical",
        )
        .orderBy("media_id")
    )


def documents_as_mixed_media(documents: DataFrame) -> DataFrame:
    """Driver-check fixture: dress ``documents`` as a media table with
    REAL container magic bytes spliced in front of the utf-8 payload —
    ``doc_id % 5`` cycles png/gif/bmp/jpeg/wav — and a planted
    labeling defect (every ``doc_id % 7 == 0`` declares ``png``
    regardless), so the audit's mismatch arm is exercised
    non-vacuously.  Exact-duplicate payloads arise naturally from
    duplicate document texts (same magic class + same text ⇒ same
    bytes).  Both engines build the identical bytes
    (:func:`mixed_media_audit_sql` mirrors the construction)."""
    magics = [
        b"\x89PNG\r\n\x1a\n",
        b"GIF89a",
        b"BM",
        b"\xff\xd8",
        b"RIFF\x00\x00\x00\x00WAVE",
    ]
    names = ["png", "gif", "bmp", "jpeg", "wav"]
    cls = F.pmod(F.col("doc_id"), F.lit(5))
    payload = F.when(
        F.col("text").isNull(), F.lit(None).cast("binary")
    ).otherwise(
        F.concat(
            *[
                F.when(cls == i, F.lit(m)).otherwise(F.lit(b""))
                for i, m in enumerate(magics)
            ],
            F.encode("text", "utf-8"),
        )
    )
    declared = F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, "png")
    for i, n in enumerate(names):
        declared = declared.when(cls == i, n)
    return documents.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            declared.alias("format"),
            F.concat(F.lit("synthetic://"), F.col("source")).alias(
                "source_uri"
            ),
        ).alias("meta"),
    )


def mixed_media_audit_sql() -> str:
    """DuckDB twin of ``media_integrity_audit(documents_as_mixed_media
    (documents))`` — the same magic splice, prefix detection (via
    ``hex(payload)`` prefix compares: DuckDB has no BLOB substring),
    declared CASE, and keep-first windows keyed on the payload hex
    itself (the Spark side keys on ``sha2(payload)`` — any injective
    key yields the identical grouping, and the key is never output)."""
    magic_lits = [
        r"'\x89PNG\x0D\x0A\x1A\x0A'::BLOB",
        r"'GIF89a'::BLOB",
        r"'BM'::BLOB",
        r"'\xFF\xD8'::BLOB",
        r"'RIFF\x00\x00\x00\x00WAVE'::BLOB",
    ]
    names = ["png", "gif", "bmp", "jpeg", "wav"]
    splice = " ".join(
        f"WHEN doc_id % 5 = {i} THEN {m}" for i, m in enumerate(magic_lits)
    )
    declared = "CASE WHEN doc_id % 7 = 0 THEN 'png' " + " ".join(
        f"WHEN doc_id % 5 = {i} THEN '{n}'" for i, n in enumerate(names)
    ) + " END"
    def pre(magic_sql: str, nbytes: int) -> str:
        return f"left(__hex, {2 * nbytes}) = hex({magic_sql})"

    detect = f"""CASE
      WHEN payload IS NULL THEN 'missing'
      WHEN octet_length(payload) = 0 THEN 'empty'
      WHEN {pre(magic_lits[0], 8)} THEN 'png'
      WHEN {pre("'GIF87a'::BLOB", 6)} THEN 'gif'
      WHEN {pre("'GIF89a'::BLOB", 6)} THEN 'gif'
      WHEN {pre("'BM'::BLOB", 2)} THEN 'bmp'
      WHEN {pre(magic_lits[3], 2)} THEN 'jpeg'
      WHEN {pre("'RIFF'::BLOB", 4)}
           AND substring(__hex, 17, 8) = hex('WAVE'::BLOB) THEN 'wav'
      ELSE 'unknown' END"""
    return f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE WHEN text IS NULL THEN NULL
              ELSE (CASE {splice} END) || encode(text) END AS payload,
         {declared} AS declared_format
  FROM documents
), hexed AS (
  SELECT *, hex(payload) AS __hex FROM media
), base AS (
  SELECT media_id,
         CAST(coalesce(octet_length(payload), 0) AS BIGINT) AS n_bytes,
         declared_format,
         {detect} AS detected_format,
         __hex
  FROM hexed
)
SELECT media_id, n_bytes, declared_format, detected_format,
       detected_format = declared_format AS format_matches,
       CAST(CASE WHEN __hex IS NOT NULL
            THEN count(*) OVER (PARTITION BY __hex) ELSE 1 END AS BIGINT)
         AS n_copies,
       CASE WHEN __hex IS NOT NULL
            THEN row_number() OVER (PARTITION BY __hex ORDER BY media_id) = 1
            ELSE TRUE END AS is_canonical
FROM base
ORDER BY media_id
"""
