"""Content-hygiene operators: repetition profiling and PII redaction
(SURVEY.md §2.12 "training-data pipeline" tier).

Two filters every large-scale text pipeline runs before training:

- :func:`repetition_profile` — Gopher-style repetition metrics
  (Rae et al. 2021, "Scaling Language Models", §A1.1): documents
  dominated by one repeated token or by duplicated n-grams are
  low-quality boilerplate/spam.  Per doc:

  * ``n_tokens`` — whitespace token count;
  * ``top_token_frac`` — occurrences of the most frequent token /
    ``n_tokens`` (Gopher's "fraction of duplicate lines" family,
    token-granular because the synthetic corpus is single-line);
  * ``dup_ngram_frac`` — 1 − distinct/total ``shingle_n``-gram
    occurrences: the mass of repeated n-grams.

  Shape: one explode + two-level partial aggregation for the token
  mode (shuffle key = (doc, token) — no hot keys, partial aggs
  combine map-side), and a PURE PROJECTION for the n-gram ratio
  (``array_distinct`` over the in-row shingle array — zero shuffle).
  The tokenizer output is staged once (``staging.stage``) because two
  consumers branch from it; callers release after materializing.

- :func:`redact_pii` — masks emails / IPv4s / phone numbers with
  typed placeholder tokens and counts the redactions per row.  Pure
  codegen'd ``regexp_replace``/``regexp_count`` chain — stateless
  projection, distributes embarrassingly; patterns restricted to
  syntax shared by Java regex and RE2 so the DuckDB twin runs the
  exact same expressions.

Both carry generated SQL twins built from the same constants
(:func:`repetition_profile_sql`, :func:`redact_pii_sql`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .staging import stage
from .text import WS, shingles_from_tokens, tokens

#: (name, pattern, replacement) — patterns use only Java∩RE2 syntax.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def repetition_profile(df: DataFrame) -> DataFrame:
    """Per-doc repetition metrics: ``(id, n_tokens, top_token_frac,
    dup_ngram_frac)``.  See module docstring for the plan shape."""
    base = stage(df.select(F.col("doc_id"), tokens("text").alias("__t")))
    tok_stats = (
        base.select("doc_id", F.explode("__t").alias("__tok"))
        .groupBy("doc_id", "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.max("__c").alias("__top"),
        )
    )
    # Bind the shingle array in its own projection FIRST: higher-order
    # lambdas are excluded from subexpression elimination, so inlining
    # ``shingles_from_tokens`` under both size() calls materializes
    # every row's n-gram array twice (verified in the physical plan).
    gram_stats = base.select(
        "doc_id", shingles_from_tokens("__t").alias("__g")
    ).select(
        "doc_id",
        F.size("__g").alias("__gt"),
        F.size(F.array_distinct("__g")).alias("__gd"),
    )
    return (
        tok_stats.join(gram_stats, on="doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("__top") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            F.when(F.col("__gt") <= 0, F.lit(0.0))
            .otherwise(F.round(1 - F.col("__gd") / F.col("__gt"), 6))
            .alias("dup_ngram_frac"),
        )
    )


def repetition_profile_sql() -> str:
    """DuckDB twin of :func:`repetition_profile`."""
    toks = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    parts = ", ".join(f"{toks}[i+{j + 1}]" for j in range(3))
    grams = (
        f"CASE WHEN len({toks}) < 3 THEN [] "
        f"ELSE list_transform(range(len({toks}) - {3 - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )
    return f"""
WITH src AS (SELECT doc_id, text FROM documents WHERE TRUE),
tok AS (
  SELECT doc_id, unnest({toks}) AS t FROM src
), tok_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top
  FROM (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t)
  GROUP BY doc_id
), gram_stats AS (
  SELECT doc_id, len({grams}) AS gt,
         len(list_distinct({grams})) AS gd
  FROM src
)
SELECT doc_id, n_tokens,
       round(top * 1.0 / n_tokens, 6) AS top_token_frac,
       CASE WHEN gt <= 0 THEN 0.0
            ELSE round(1 - gd * 1.0 / gt, 6) END AS dup_ngram_frac
FROM tok_stats JOIN gram_stats USING (doc_id)
"""


#: Literal each PII pattern cannot match without — the cheap
#: ``contains`` pre-filter that skips the regex entirely on cells
#: lacking it.  Java's backtracking regex is QUADRATIC in unbroken
#: character-class runs (measured: the email pattern on ``'a'*n``
#: costs ~0.35 s at n=8k, ~2.6 s at n=24k per cell — a 1 MB
#: binary-spill/base64 cell would take over an hour), and the common
#: adversarial shape carries no ``@`` at all.  DuckDB's RE2 is linear,
#: so the guard is a Spark-side performance fix with IDENTICAL
#: semantics: no literal → no possible match → 0 redactions.  Cells
#: that DO carry the literal inside a pathological run remain
#: quadratic on the Spark side — documented bound, same class as the
#: quadratic-shingle oracle ceiling.
PII_REQUIRED_LITERAL: dict[str, str] = {
    "email": "@",
    "ipv4": ".",
    "phone": "-",
}


def _redacted() -> Column:
    out = F.col("text")
    for name, pat, repl in PII_PATTERNS:
        lit = PII_REQUIRED_LITERAL[name]
        out = F.when(
            out.contains(lit), F.regexp_replace(out, pat, repl)
        ).otherwise(out)
    return out


def _n_redactions() -> Column:
    c = F.col("text")
    out = F.lit(0)
    for name, pat, _repl in PII_PATTERNS:
        lit = PII_REQUIRED_LITERAL[name]
        # NULL text stays NULL (the pre-guard contract the twins pin);
        # only a literal-free NON-NULL cell short-circuits to 0
        out = out + F.when(
            c.contains(lit), F.regexp_count(c, F.lit(pat))
        ).otherwise(F.when(c.isNotNull(), F.lit(0)))
    return out


def redact_pii(df: DataFrame) -> DataFrame:
    """Mask every :data:`PII_PATTERNS` match in ``text`` with its
    typed placeholder (``clean_text``) and count matches per row
    (``n_redactions``).  Counting runs on the
    ORIGINAL text, so overlapping pattern classes (an email whose
    domain embeds digits, say) count what the raw text contained, not
    the post-substitution string."""
    return df.withColumn("clean_text", _redacted()).withColumn(
        "n_redactions", _n_redactions()
    )


#: The text :func:`redact_pii_sql` redacts: ``documents.text`` with
#: PII seeded from ``doc_id`` exactly as
#: ``plans.llm_queries.doc_pii_redact`` appends it on the Spark side.
_PII_SEEDED = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@mail.example.com from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || "
    "'.7 call 555-123-4567'"
)


def redact_pii_sql() -> tuple[str, str]:
    """DuckDB twin pair for :func:`redact_pii`: returns
    ``(clean_sql, count_sql)`` expression strings over the PII-seeded
    text (DuckDB needs the 'g' flag for replace-all; counts via
    ``regexp_extract_all``)."""
    text_expr = clean = _PII_SEEDED
    count_terms = []
    for _name, pat, repl in PII_PATTERNS:
        escaped = pat.replace("'", "''")
        clean = f"regexp_replace({clean}, '{escaped}', '{repl}', 'g')"
        count_terms.append(f"len(regexp_extract_all({text_expr}, '{escaped}'))")
    return clean, " + ".join(count_terms)


#: The eight "required English words" of the Gopher stop-word rule
#: (Rae et al. 2021, §A1.1: a document must contain at least 2).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

#: Characters whose presence at a trimmed line's start marks it a
#: bullet line for the ≤90 %-bullet-lines rule.
GOPHER_BULLET_CHARS: tuple[str, ...] = ("•", "‣", "-", "*")

#: Gopher rule thresholds (Rae et al. 2021, §A1.1), in the order the
#: pass flag applies them.
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_hash_word_ratio": 0.1,
    "max_ellipsis_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
}


def gopher_rules(df: DataFrame) -> DataFrame:
    """Gopher quality-rule panel (Rae et al. 2021, "Scaling Language
    Models: Methods, Analysis & Insights from Training Gopher",
    §A1.1 — the public web-text filter the MassiveWeb pipeline
    applies): per document the raw rule metrics plus the composite
    ``gopher_pass`` flag.

    Complements :func:`repetition_profile` (that covers §A1.1's
    duplicate-line/ngram family); this panel covers the rest:

    * ``n_words`` — whitespace token count (rule: 50–100,000);
    * ``mean_word_len`` — mean characters per word (rule: 3–10);
    * ``hash_word_ratio`` — ``#`` chars / words (rule: ≤ 0.1);
    * ``ellipsis_word_ratio`` — (``…`` chars + non-overlapping
      ``...`` runs) / words (rule: ≤ 0.1 — §A1.1 applies the 0.1
      symbol-to-word threshold to the hash symbol and the ellipsis
      EACH separately, so the two ratios are distinct columns);
    * ``bullet_line_frac`` — lines whose trimmed first char is a
      bullet (rule: ≤ 0.9 — the paper removes docs where MORE than
      90 % of lines are bullets);
    * ``ellipsis_line_frac`` — lines ending ``...``/``…`` after
      rtrim (rule: ≤ 0.3);
    * ``alpha_word_frac`` — words containing ≥1 ``[A-Za-z]``
      (rule: ≥ 0.8);
    * ``stop_hits`` — how many of the eight required English words
      appear as tokens (rule: ≥ 2);
    * ``gopher_pass`` — AND of the above, FALSE for NULL text.

    Plan shape: a PURE PROJECTION — every metric is a higher-order
    function over the in-row token/line arrays (no explode, no
    shuffle, embarrassingly parallel at any scale).  Ellipsis runs
    count via replace-length-diff, not regex, so the DuckDB twin is
    byte-identical.  NULL text yields NULL metrics and a FALSE flag.
    """
    t = F.col("text")
    tk = tokens("text")
    lines = F.split(t, F.lit("\n"))
    n_words = F.size(tk)
    mean_wl = F.round(
        F.aggregate(
            tk, F.lit(0).cast("double"), lambda a, w: a + F.length(w)
        )
        / n_words,
        6,
    )
    n_hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipses = (
        F.length(t)
        - F.length(F.replace(t, F.lit("…"), F.lit("")))
        + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    )
    is_bullet = lambda l: F.substring(F.ltrim(l), 1, 1).isin(  # noqa: E731
        *GOPHER_BULLET_CHARS
    )
    is_ellipsis = lambda l: F.rtrim(l).endswith("...") | F.rtrim(  # noqa: E731
        l
    ).endswith("…")
    bullet_frac = F.round(
        F.size(F.filter(lines, is_bullet)) / F.size(lines), 6
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, is_ellipsis)) / F.size(lines), 6
    )
    alpha_frac = F.round(
        F.size(F.filter(tk, lambda w: w.rlike("[A-Za-z]"))) / n_words, 6
    )
    stop_hits = sum(
        F.array_contains(tk, w).cast("int") for w in GOPHER_STOPWORDS
    )
    th = GOPHER_THRESHOLDS
    out = df.select(
        F.col("doc_id"),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        F.round(n_hashes / n_words, 6).alias("hash_word_ratio"),
        F.round(n_ellipses / n_words, 6).alias("ellipsis_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    gopher_pass = (
        F.col("n_words").between(th["min_words"], th["max_words"])
        & F.col("mean_word_len").between(
            th["min_mean_word_len"], th["max_mean_word_len"]
        )
        & (F.col("hash_word_ratio") <= th["max_hash_word_ratio"])
        & (F.col("ellipsis_word_ratio") <= th["max_ellipsis_word_ratio"])
        & (F.col("bullet_line_frac") <= th["max_bullet_line_frac"])
        & (F.col("ellipsis_line_frac") <= th["max_ellipsis_line_frac"])
        & (F.col("alpha_word_frac") >= th["min_alpha_word_frac"])
        & (F.col("stop_hits") >= th["min_stop_hits"])
    )
    return out.withColumn(
        "gopher_pass", F.coalesce(gopher_pass, F.lit(False))
    )


def gopher_rules_sql() -> str:
    """DuckDB twin of :func:`gopher_rules` — same tokenizer class,
    same replace-length-diff symbol counting, same thresholds."""
    toks = "regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')"
    bullets = ", ".join(f"'{c}'" for c in GOPHER_BULLET_CHARS)
    stop_terms = " + ".join(
        f"CAST(list_contains(tk, '{w}') AS INT)" for w in GOPHER_STOPWORDS
    )
    th = GOPHER_THRESHOLDS
    return f"""
WITH base AS (
  SELECT doc_id, text, {toks} AS tk,
         str_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    len(tk) AS n_words,
    round(list_sum(list_transform(tk, w -> length(w))) * 1.0
          / len(tk), 6) AS mean_word_len,
    round((length(text) - length(replace(text, '#', ''))) * 1.0
          / len(tk), 6) AS hash_word_ratio,
    round((length(text) - length(replace(text, chr(8230), ''))
           + (length(text) - length(replace(text, '...', ''))) / 3.0)
          / len(tk), 6) AS ellipsis_word_ratio,
    round(len(list_filter(lines,
              l -> substring(ltrim(l), 1, 1) IN ({bullets}))) * 1.0
          / len(lines), 6) AS bullet_line_frac,
    round(len(list_filter(lines,
              l -> ends_with(rtrim(l), '...')
                   OR ends_with(rtrim(l), chr(8230)))) * 1.0
          / len(lines), 6) AS ellipsis_line_frac,
    round(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
          / len(tk), 6) AS alpha_word_frac,
    {stop_terms} AS stop_hits
  FROM base
)
SELECT doc_id, n_words, mean_word_len, hash_word_ratio,
       ellipsis_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
       COALESCE(
         n_words BETWEEN {th["min_words"]} AND {th["max_words"]}
         AND mean_word_len BETWEEN {th["min_mean_word_len"]}
                               AND {th["max_mean_word_len"]}
         AND hash_word_ratio <= {th["max_hash_word_ratio"]}
         AND ellipsis_word_ratio <= {th["max_ellipsis_word_ratio"]}
         AND bullet_line_frac <= {th["max_bullet_line_frac"]}
         AND ellipsis_line_frac <= {th["max_ellipsis_line_frac"]}
         AND alpha_word_frac >= {th["min_alpha_word_frac"]}
         AND stop_hits >= {th["min_stop_hits"]}, FALSE) AS gopher_pass
FROM m
"""


#: Sentence-terminal characters for the C4 terminal-punctuation line
#: rule and the ≥5-sentence page rule.
C4_TERMINALS: tuple[str, ...] = (".", "!", "?", '"')

#: C4 page-rule thresholds (Raffel et al. 2019, §2.2).
C4_MIN_SENTENCES = 5
C4_MIN_LINE_WORDS = 3


def c4_line_filter(df: DataFrame) -> DataFrame:
    """The C4 line-level cleaning rules (public reference: Raffel et
    al., "Exploring the Limits of Transfer Learning with a Unified
    Text-to-Text Transformer", arXiv:1910.10683 §2.2 — the rules that
    produced C4 from Common Crawl, minus the external badwords list):

    line KEPT iff it ends (after rtrim) in a terminal punctuation
    mark (``. ! ? "``), has ≥ 3 whitespace words, and does not
    contain the word ``javascript`` (case-insensitive); page/document
    KEPT (``keep_doc``) iff its kept text holds ≥ 5 sentence
    terminals, does not contain ``lorem ipsum`` (case-insensitive),
    and has no curly brace.

    Returns ``(id, clean_text, n_kept, n_removed, n_sentences,
    keep_doc)`` — one row per input document; the caller filters on
    ``keep_doc`` (kept separate so retention is auditable, the same
    profile-then-filter split the repetition family uses).  NULL text
    → NULL ``clean_text``, 0 counts, FALSE ``keep_doc``.

    Documented deviation: the page rules (lorem ipsum, braces,
    sentence count) run on the CLEANED text, not the raw page — a
    brace that lived only on a line the line rules already dropped
    does not kill the page.  The paper checks the raw page; checking
    what would actually ship is the stricter-where-it-matters,
    laxer-where-it-doesn't variant, and it is what the twin pins.

    Plan shape: a PURE PROJECTION — line split, higher-order filter,
    array_join, character counts, all in-row; zero shuffle at any
    scale.  Sentence count = occurrences of terminal chars in the
    KEPT text (replace-length-diff, regex-free, byte-identical
    twin)."""
    t = F.col("text")
    lines = F.split(t, F.lit("\n"))

    def line_ok(l):  # noqa: E741
        r = F.rtrim(l)
        ends = None
        for c in C4_TERMINALS:
            e = r.endswith(c)
            ends = e if ends is None else (ends | e)
        words = F.size(F.split(l, WS))
        return (
            ends
            & (words >= C4_MIN_LINE_WORDS)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, line_ok)
    # NULL (not '') when nothing survives: DuckDB's array_to_string
    # returns NULL for an empty list while Spark's array_join returns
    # '' — the NULL contract matches line_dedup's fully-deduped docs.
    clean = F.when(F.size(kept) > 0, F.array_join(kept, "\n"))
    n_sent = F.lit(0)
    for c in C4_TERMINALS:
        n_sent = n_sent + (
            F.length(clean) - F.length(F.replace(clean, F.lit(c), F.lit("")))
        )
    out = df.select(
        F.col("doc_id"),
        clean.alias("clean_text"),
        F.size(kept).alias("n_kept"),
        (F.size(lines) - F.size(kept)).alias("n_removed"),
        n_sent.alias("n_sentences"),
    )
    keep = (
        (F.col("n_sentences") >= C4_MIN_SENTENCES)
        & ~F.lower(F.col("clean_text")).contains("lorem ipsum")
        & ~F.col("clean_text").contains("{")
        & ~F.col("clean_text").contains("}")
    )
    return out.select(
        "doc_id",
        "clean_text",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        F.coalesce(F.col("n_sentences"), F.lit(0)).alias("n_sentences"),
        F.coalesce(keep, F.lit(False)).alias("keep_doc"),
    )


def c4_line_filter_sql() -> str:
    """DuckDB twin of :func:`c4_line_filter` — same rules, same
    replace-length-diff sentence count."""
    ws = "[ \\t\\n\\x0B\\f\\r]+"
    ends = " OR ".join(
        f"ends_with(rtrim(l), '{c}')" if c != '"' else
        "ends_with(rtrim(l), '\"')"
        for c in C4_TERMINALS
    )
    pred = (
        f"({ends}) AND len(regexp_split_to_array(l, '{ws}')) >= "
        f"{C4_MIN_LINE_WORDS} AND NOT contains(lower(l), 'javascript')"
    )
    sent = " + ".join(
        "(length(clean_text) - length(replace(clean_text, "
        + (f"'{c}'" if c != '"' else "'\"'")
        + ", '')))"
        for c in C4_TERMINALS
    )
    return f"""
WITH m AS (
  SELECT doc_id,
         list_filter(str_split(text, chr(10)), l -> {pred}) AS kept,
         str_split(text, chr(10)) AS ls
  FROM documents
), c AS (
  SELECT doc_id,
         array_to_string(kept, chr(10)) AS clean_text,
         len(kept) AS n_kept,
         len(ls) - len(kept) AS n_removed
  FROM m
), s AS (
  SELECT *, {sent} AS n_sentences FROM c
)
SELECT doc_id, clean_text,
       COALESCE(n_kept, 0) AS n_kept,
       COALESCE(n_removed, 0) AS n_removed,
       COALESCE(n_sentences, 0) AS n_sentences,
       COALESCE(
         n_sentences >= {C4_MIN_SENTENCES}
         AND NOT contains(lower(clean_text), 'lorem ipsum')
         AND NOT contains(clean_text, '{{')
         AND NOT contains(clean_text, '}}'), FALSE) AS keep_doc
FROM s
"""
