"""Unicode text normalization (ingest-stage hygiene).

Byte-exact dedup keys (llm/dedup.py) treat canonically-equivalent
NFC/NFD encodings of the same text as DIFFERENT documents — correct
for a byte contract, wrong for a training corpus scraped from mixed
sources (macOS filenames and some CMSes emit NFD; almost everything
else emits NFC).  The fix at 100 TB is not to make every dedup key
normalization-aware (that would push a Python step into every hot
path); it is to normalize ONCE at ingest and let the whole
downstream pipeline stay byte-exact on normalized bytes.

Spark has no built-in Unicode normalizer, so this is the sanctioned
Arrow-batched slow path: a scalar ``pandas_udf`` over
``Series.str.normalize`` (columnar Arrow transfer, vectorized ICU-free
``unicodedata`` tables — verified byte-identical to DuckDB's
``nfc_normalize`` for the oracle twins).  Per-row cost is a single
table lookup pass; at ingest it amortizes to zero because the write
was already happening.

No reference analogue (the reference never leaves ASCII Yelp JSON);
this is part of the §2.12 training-data surface.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@functools.cache
def _nfc():
    """The Arrow-batched NFC UDF, created once (udf creation is not free)."""

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        # Series.str.normalize propagates nulls; empty strings are
        # identity.
        return s.str.normalize("NFC")

    return _norm


def normalize_text(df: DataFrame) -> DataFrame:
    """Normalize ``df["text"]`` in place to NFC, the web's canonical
    form (the ingest contract: downstream sees only normalized bytes).

    Adds the boolean ``changed`` marking rows the normalization
    actually changed — the audit column an ingest job writes so the
    (tiny) changed slice can be re-checked without re-scanning the
    corpus.
    """
    tmp = "__normalize_text_tmp"
    res = df.withColumn(tmp, _nfc()(F.col("text")))
    # flag against the PRE-normalization bytes (null text → False)
    res = res.withColumn(
        "changed", F.coalesce(F.col(tmp) != F.col("text"), F.lit(False))
    )
    return res.withColumn("text", F.col(tmp)).drop(tmp)
