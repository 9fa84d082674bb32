"""Text-analysis expression builders (SURVEY.md §2.12 "text analysis").

Generalizes the reference's only text-ish operator — the substring
category UDF (scripts/etl.py:76-88) — into the stats a training-data
pipeline actually computes: token counts, length/punctuation/stopword
profiles, a marker-word language-ID heuristic, quality banding, and
shingle fingerprints for near-dup detection.

Everything is a plain ``Column`` builder over built-in higher-order
functions — no Python UDFs, the whole surface stays inside Tungsten
whole-stage codegen and is ANSI-SQL-expressible for the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.columns import as_col as _col

#: Java's ASCII whitespace set spelled out.  The r8 control-char probe
#: found RE2's ``\s`` EXCLUDES \x0B (vertical tab) while Java's
#: includes it — so every whitespace class shared between the engines
#: uses this explicit set.  Byte-identical to the old Spark behavior
#: (Java ``\s`` ≡ this set without UNICODE_CHARACTER_CLASS), so no
#: clean-fixture hash moves; only the DuckDB twins change on VT/FF-
#: bearing text.
WS_CHARS = r" \t\n\x0B\f\r"
WS = rf"[{WS_CHARS}]+"

#: BPE-ish word/punctuation token pattern: runs of word chars OR runs of
#: non-word-non-space chars, the usual pre-tokenizer shape.
BPE_TOKEN = rf"\w+|[^\w{WS_CHARS}]+"

#: Tiny per-language marker-word sets for the n-gram/marker language-ID
#: heuristic.  Ordered: ties resolve to the FIRST language listed.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "los", "las", "es", "una", "para"),
}

#: English stopwords used by the quality profile's stopword ratio.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
)



def tokens(text: Column | str) -> Column:
    """Whitespace tokens: ``split(text, '[ \\t\\n\\x0B\\f\\r]+')``."""
    return F.split(_col(text), WS)


def token_count() -> Column:
    """Number of whitespace tokens of ``text``."""
    return F.size(tokens("text"))


def bpe_token_count() -> Column:
    """Token count of ``text`` under the BPE-ish pre-tokenizer regex
    (word runs + punctuation runs) — the usual first-order estimate of LLM token
    cost, computed JVM-side via ``regexp_extract_all``."""
    return F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN), 0))


def avg_token_length() -> Column:
    """Mean characters per whitespace token of ``text``."""
    t = tokens("text")
    return F.aggregate(
        t, F.lit(0.0), lambda acc, x: acc + F.length(x)
    ) / F.size(t)


def punct_ratio() -> Column:
    """Share of ``text``'s characters that are neither word chars nor
    whitespace.
    Empty text scores 0.0 — the bare division would raise
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode and abort the
    whole scoring job on the first empty document (SQL twins carry the
    same CASE guard)."""
    c = F.col("text")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(c, rf"[\w{WS_CHARS}]", "")) / F.length(c)
    )


def stopword_ratio() -> Column:
    """Share of ``text``'s whitespace tokens that are stopwords
    (duplicates count, so ``marker_hits``' filter+contains counting,
    not the deduping ``array_intersect``)."""
    return marker_hits(STOPWORDS) / F.size(tokens("text"))


def marker_hits(markers: Sequence[str]) -> Column:
    """Count of ``text``'s tokens that appear in ``markers``
    (duplicates count)."""
    m = F.array(*[F.lit(w) for w in markers])
    return F.size(F.filter(tokens("text"), lambda x: F.array_contains(m, x)))


def lang_id() -> Column:
    """Marker-word language-ID heuristic over ``text``: score each
    candidate language
    by how many of its marker words occur, pick the max; ties resolve
    in ``LANG_MARKERS`` order; all-zero → ``"und"``.

    One pass over the token array per language — a few codegen'd
    higher-order expressions, no Python.  (On the synthetic fixture the
    shared word pool makes most docs ``"und"``; the operator is the
    deliverable, the corpus isn't natural language.)
    """
    scores = {lang: marker_hits(mk) for lang, mk in LANG_MARKERS.items()}
    langs = list(scores)
    best = F.greatest(*scores.values()) if len(langs) > 1 else scores[langs[0]]
    expr = None
    for lang in langs:  # first language reaching the max wins
        cond = (scores[lang] == best) & (best > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def lang_id_sql() -> str:
    """DuckDB twin of :func:`lang_id`, generated from the SAME marker
    dict so scores and tie-break order agree exactly."""
    tok = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    score = {}
    for lang, mk in LANG_MARKERS.items():
        lit = "[" + ", ".join(f"'{w}'" for w in mk) + "]"
        score[lang] = f"len(list_filter({tok}, t -> list_contains({lit}, t)))"
    best = "greatest(" + ", ".join(score.values()) + ")"
    cases = " ".join(
        f"WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    return f"(CASE {cases} ELSE 'und' END)"


def quality_score() -> Column:
    """Composite quality heuristic of ``text`` in [0, 1]: rewards
    mid-range length, low punctuation density, and a sane mean token
    length.

    score = 0.4 * min(n_tokens / 64, 1)
          + 0.3 * (1 - min(punct_ratio * 5, 1))
          + 0.3 * (1 if 3 <= avg_token_len <= 10 else 0)
    """
    ntok = token_count().cast("double")
    p = punct_ratio()
    atl = avg_token_length()
    return (
        F.lit(0.4) * F.least(ntok / F.lit(64.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(p * F.lit(5.0), F.lit(1.0)))
        + F.lit(0.3)
        * F.when((atl >= 3.0) & (atl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    )


def shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """Shingle array from an ALREADY-MATERIALIZED token-array column.
    Prefer :func:`with_shingles` on DataFrames: referencing a real
    column here means the tokenizer ran once per row, not once per
    shingle (see below)."""
    t = _col(tok_col)
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
        )
    )


def shingled(
    df,
    keep_cols: list[str],
    n: int = 3,
    out: str = "__sh",
):
    """Corpus-scale shingle builder: project down to ``keep_cols`` +
    the token array of ``text`` in one projection, derive shingles from the bound
    column in a second.  With this minimal shape Catalyst leaves the
    two projections uncollapsed (the token array is referenced
    multiple times), so the tokenizer runs once per ROW — inlining it
    into the higher-order lambda re-evaluates it once per SHINGLE
    (codegen does no subexpression elimination across a lambda
    boundary; measured 7.5× at sf0.1).  Returns ``keep_cols`` + the
    ``out`` shingle-array column; carrying the full row width through
    defeats the non-collapse shape, so project first, join back later
    if you need more columns."""
    tok = f"__toks_{out}"
    staged = df.select(*keep_cols, tokens("text").alias(tok))
    return staged.select(
        *keep_cols, shingles_from_tokens(tok, n).alias(out)
    )


#: Width of every MinHash signature: the banded LSH shape of
#: ``llm.dedup`` splits it into ``BANDS`` bands.
NUM_HASHES = 6


def minhash_signature_from(shingle_col: Column) -> Column:
    """``NUM_HASHES``-wide signature from an ALREADY-BUILT shingle
    array column.

    Use this when the shingle array is materialized in the plan (e.g.
    the LSH join builds it once and reuses it) — deriving the signature
    from the column avoids re-tokenizing the text once per hash family,
    which dominates the cost otherwise.  Duplicates in the input don't
    change a min, so distinct or raw shingle arrays give the same
    signature.
    """

    def salted_min(i: int) -> Column:
        # NOTE: the lambda must take exactly one parameter — pyspark
        # maps a second parameter to the array index, not a closure.
        return F.array_min(
            F.transform(
                shingle_col, lambda s: F.md5(F.concat_ws(":", F.lit(str(i)), s))
            )
        )

    return F.array(*[salted_min(i) for i in range(NUM_HASHES)])
