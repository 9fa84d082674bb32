"""Deterministic dataset splitting and sampling (SURVEY.md §2.12
"training-data pipeline" extensions).

A training corpus needs reproducible membership decisions — the same
document must land in the same split on every run, on any cluster
size, with no shared state.  Both operators here derive membership
from ``md5`` of the row's id, not from ``rand()``:

- :func:`split_assign` — train/val/test assignment by hashed-id
  range.  The first 8 hex chars of ``md5(id)`` are a uniform draw
  from ``[0, 16^8)``; comparing them lexicographically against
  cumulative-weight thresholds (fixed-width hex compares like the
  integer) buckets every row with zero coordination.  This is the
  standard "hash-mod split" of large-scale pipelines, phrased so one
  projection does it — no shuffle, no sampling pass, fully
  pushdown-friendly.
- :func:`stratified_sample` — per-stratum deterministic sampling:
  keep a row iff its hash bucket falls below the stratum's fraction
  threshold.  Unlike ``DataFrame.sampleBy`` (Bernoulli per row, a
  different sample every run) the output is a pure function of
  (id, stratum fractions), so the oracle can replay it exactly.

Both have generated DuckDB twins (:func:`split_case_sql`,
:func:`stratified_pred_sql`) built from the SAME thresholds, so the
two engines cannot drift.  Spark and DuckDB agree byte-for-byte on
``md5`` of the same string and on integer→string casts, which is all
the parity needed.

Scale: each operator is a stateless projection/filter — it
distributes embarrassingly at any corpus size, and Catalyst pushes
the stratified filter into the scan.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.vectors import IVF_CELLS

#: Per-language sampling fractions of :func:`stratified_sample` and its
#: twin (downsample dominant en, keep mid langs, thin the tail).
STRAT_FRACTIONS: dict[str, float] = {
    "en": 0.5,
    "de": 0.8,
    "fr": 0.8,
    "es": 0.8,
    "zh": 0.25,
}

#: Exact per-language row cap of :func:`take_per_stratum` and its twin.
TAKE_K = 20

#: Rows :func:`weighted_take` and its twin draw.
WEIGHTED_K = 100

#: Target language mixture of :func:`mixture_report` and its twin —
#: boost English, rebalance the rest to equal shares (the corpus is
#: ~44% en).
MIXTURE_WEIGHTS: dict[str, float] = {
    "de": 0.15,
    "en": 0.4,
    "es": 0.15,
    "fr": 0.15,
    "zh": 0.15,
}

#: The train/val/test weights.
DEFAULT_SPLITS: tuple[tuple[str, float], ...] = (
    ("train", 0.8),
    ("val", 0.1),
    ("test", 0.1),
)

_HEX_SPAN = 16**8  # first 8 md5 hex chars span [0, 16^8)


#: Per-purpose hash salts.  Splitting and sampling must be INDEPENDENT
#: draws: if both read the identical ``md5(id)`` bucket, a stratified
#: sample with fraction ≤ 0.8 falls entirely inside the train split
#: and val/test strata can sample to zero — a silent statistical bias
#: when the two operators compose in one pipeline.  Salting the hash
#: input per purpose decorrelates them while keeping each individually
#: deterministic (and the SQL twins read the same constants, so parity
#: holds by construction).
SPLIT_SALT = "|split"
SAMPLE_SALT = "|sample"
TAKE_SALT = "|take"
WEIGHTED_SALT = "|wtake"
MIXTURE_SALT = "|mix"

#: 2^32 as an exactly-representable double (the hash span below).
_U32_SPAN = 4294967296.0

_HEX_DIGITS = "0123456789abcdef"

#: Semantic clusters :func:`cluster_balance_sample` (and its twin)
#: balances token mass across: the cells of the seeded IVF quantizer.
BALANCE_CELLS = IVF_CELLS


def hash_bucket(id_col: Column | str, salt: str = "") -> Column:
    """First 8 hex chars of ``md5(cast(id AS string) || salt)`` — a
    uniform, engine-portable draw in ``[0, 16^8)`` encoded as
    fixed-width hex (lexicographic order == numeric order).  Distinct
    ``salt`` values give independent draws for the same id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    s = c.cast("string")
    if salt:
        s = F.concat(s, F.lit(salt))
    return F.substring(F.md5(s), 1, 8)


def hash_bucket_sql(id_expr: str, salt: str = "") -> str:
    """DuckDB twin of :func:`hash_bucket`."""
    arg = f"CAST({id_expr} AS VARCHAR)"
    if salt:
        arg = f"{arg} || '{salt}'"
    return f"substr(md5({arg}), 1, 8)"


def _frac_hex(frac: float) -> str:
    """Fraction → fixed-width-hex upper bound.  Fractions ≥ 1 map to
    the ``'g'*8`` sentinel ('g' sorts above every hex char) — naively
    formatting 16^8 yields NINE hex digits, which compares LOWER than
    most 8-char buckets and silently drops ~94% of rows."""
    n = int(round(frac * _HEX_SPAN))
    return "g" * 8 if n >= _HEX_SPAN else format(n, "08x")


def _thresholds() -> list[tuple[str, str]]:
    """(name, cumulative-upper-bound-as-8-hex) per ``DEFAULT_SPLITS``
    entry; the last split takes everything remaining so weight
    rounding can't drop rows."""
    total = sum(w for _, w in DEFAULT_SPLITS)
    out, cum = [], 0.0
    for name, w in DEFAULT_SPLITS[:-1]:
        cum += w / total
        out.append((name, _frac_hex(cum)))
    out.append((DEFAULT_SPLITS[-1][0], "g" * 8))
    return out


def split_assign(df: DataFrame) -> DataFrame:
    """Add a deterministic train/val/test ``split`` column: the
    ``DEFAULT_SPLITS`` entry
    whose cumulative-weight hex threshold first exceeds the row's
    :func:`hash_bucket` (salted ``SPLIT_SALT`` — independent of the
    sampling draw).  Pure projection — no shuffle, reproducible
    across runs and engines.

    A NULL ``doc_id`` hashes to NULL and gets ``split = NULL`` (both
    engines agree — the SQL twin behaves identically), so such rows
    fall out of every split's accounting: ensure non-NULL ids
    upstream, or the NULL group in a ``groupBy("split")`` is your
    missing-rows signal."""
    b = hash_bucket("doc_id", SPLIT_SALT)
    expr = None
    for name, thr in _thresholds():
        cond = b < F.lit(thr)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def split_case_sql() -> str:
    """DuckDB ``CASE`` twin of :func:`split_assign`, generated from the
    same thresholds."""
    b = hash_bucket_sql("doc_id", SPLIT_SALT)
    whens = " ".join(
        f"WHEN {b} < '{thr}' THEN '{name}'"
        for name, thr in _thresholds()
    )
    return f"(CASE {whens} END)"


def stratified_sample(df: DataFrame) -> DataFrame:
    """Keep each row iff its hash bucket falls under its ``lang``
    stratum's ``STRAT_FRACTIONS`` threshold — a deterministic
    ``sampleBy``.  Strata absent from ``STRAT_FRACTIONS`` are dropped
    (fraction 0).  The draw is salted ``SAMPLE_SALT``, independent of
    :func:`split_assign`.  One codegen'd filter; Catalyst pushes it to
    the scan."""
    b = hash_bucket("doc_id", SAMPLE_SALT)
    thr = None
    for stratum, frac in STRAT_FRACTIONS.items():
        hexthr = _frac_hex(frac)
        cond = F.col("lang") == F.lit(stratum)
        thr = (
            F.when(cond, hexthr) if thr is None else thr.when(cond, hexthr)
        )
    thr = thr.otherwise(F.lit(_frac_hex(0.0)))
    return df.filter(b < thr)


def stratified_pred_sql() -> str:
    """DuckDB predicate twin of :func:`stratified_sample`."""
    b = hash_bucket_sql("doc_id", SAMPLE_SALT)
    whens = " ".join(
        f"WHEN lang = '{s}' THEN '{_frac_hex(f)}'"
        for s, f in STRAT_FRACTIONS.items()
    )
    dflt = _frac_hex(0.0)
    return f"({b} < (CASE {whens} ELSE '{dflt}' END))"


def take_per_stratum(df: DataFrame) -> DataFrame:
    """EXACTLY ``min(TAKE_K, |stratum|)`` rows per ``lang`` stratum,
    deterministically: rows rank within their stratum by ``(salted
    hash, id)`` and ranks ≤ ``TAKE_K`` survive.  The fixed-count complement of
    :func:`stratified_sample` — a fraction gives a binomial-sized
    sample; eval sets, few-shot pools, and per-class caps need an
    exact count.  The ``TAKE_SALT`` draw is independent of both the
    split and the fractional-sample draws, so all three compose
    without correlation.

    Scale: the window ranks shuffle once on the stratum key — the
    price of an exact count (a giant stratum is one partition; Spark's
    WindowGroupLimit pushes the ``rank ≤ TAKE_K`` limit into the sort, so
    partial top-k runs map-side before the shuffle).  When an
    approximate count is acceptable, :func:`stratified_sample` does it
    with no shuffle at all.
    """
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.relational import grouped_top_k

    return grouped_top_k(
        df,
        partition_by=["lang"],
        order_by=[hash_bucket("doc_id", TAKE_SALT), F.col("doc_id")],
        k=TAKE_K,
        rank_col="__take_rk",
    )


def _hex8_to_long(hexstr: Column) -> Column:
    """First-8-hex-chars → bigint in ``[0, 2^32)`` via ``instr``
    arithmetic (portable to engines without ``conv(x, 16, 10)``;
    bigint casts keep the 16^7-weighted products out of int32
    overflow, which ANSI mode turns into a hard error)."""
    out = F.lit(0).cast("bigint")
    for pos in range(8):
        digit = F.instr(F.lit(_HEX_DIGITS), F.substring(hexstr, pos + 1, 1)) - 1
        out = out + digit.cast("bigint") * F.lit(16 ** (7 - pos)).cast("bigint")
    return out


def _hex8_to_long_sql(hex_expr: str) -> str:
    """DuckDB twin of :func:`_hex8_to_long` (same digit arithmetic)."""
    terms = " + ".join(
        f"CAST((instr('{_HEX_DIGITS}', substr({hex_expr}, {pos + 1}, 1)) - 1) "
        f"AS BIGINT) * CAST({16 ** (7 - pos)} AS BIGINT)"
        for pos in range(8)
    )
    return f"({terms})"


def weighted_priority() -> Column:
    """Deterministic priority-sampling key of ``doc_id`` weighted by
    ``n_chars`` (Duffield, Lund & Thorup,
    "Priority sampling for estimation of arbitrary subset sums",
    J. ACM 54(6), 2007): ``q_i = w_i / u_i`` with ``u_i`` a uniform
    draw in ``(0, 1]`` — the k rows with the LARGEST priorities form a
    weight-biased sample without replacement whose inclusion
    probability grows with ``w_i``.

    Engine parity is exact by construction: ``u_i`` comes from the
    salted md5 hash (8 hex chars → an integer ``h`` in ``[0, 2^32)``,
    decoded with :func:`_hex8_to_long`), and the priority is computed
    as ``w * 2^32 / (h + 1)`` using ONLY ``*`` and ``/`` — IEEE-754
    requires both to be correctly rounded, so Spark and any oracle
    engine produce bit-identical doubles (no ``pow``/``ln``, whose
    last-ulp behavior is implementation-defined, anywhere in the
    key).  Same id + salt ⇒ same draw on every run and cluster size —
    no ``rand()``, no coordination."""
    w = F.col("n_chars")
    h = _hex8_to_long(hash_bucket("doc_id", WEIGHTED_SALT))
    return (
        w.cast("double") * F.lit(_U32_SPAN)
        / (h.cast("double") + F.lit(1.0))
    )


def weighted_take(df: DataFrame) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the
    ``WEIGHTED_K`` rows with the largest :func:`weighted_priority`,
    ties broken by ``doc_id``.  Rows with NULL or non-positive
    ``n_chars`` are excluded (their priority is undefined).

    Scale shape: ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject — per-partition top-k then a single bounded
    merge, never a global sort of the corpus.  The use case is the
    quality-weighted corpus subset ("sample 1M docs, biased toward
    high quality") that plain :func:`stratified_sample` (equal-weight)
    cannot express."""
    scored = df.filter(
        F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    ).withColumn("priority", weighted_priority())
    return scored.orderBy(F.desc("priority"), F.asc("doc_id")).limit(WEIGHTED_K)


def weighted_take_sql() -> str:
    """DuckDB twin of :func:`weighted_take` (same salt, same hash
    decode, same correctly-rounded arithmetic)."""
    h = _hex8_to_long_sql(hash_bucket_sql("doc_id", WEIGHTED_SALT))
    # {span}e0: exponent form parses as DOUBLE in DuckDB (a bare
    # decimal literal would round through DECIMAL — see _fmt_double)
    pri = (
        f"(CAST(n_chars AS DOUBLE) * {int(_U32_SPAN)}e0 "
        f"/ (CAST({h} AS DOUBLE) + 1.0))"
    )
    return (
        f"SELECT doc_id, n_chars, {pri} AS priority FROM documents "
        f"WHERE n_chars IS NOT NULL AND n_chars > 0 "
        f"ORDER BY priority DESC, doc_id LIMIT {WEIGHTED_K}"
    )


def take_per_stratum_sql() -> str:
    """DuckDB twin of :func:`take_per_stratum` (same salt, same
    ``(hash, id)`` order).

    The helper rank column is EXCLUDED from the ``*`` projection (DuckDB ``* EXCLUDE``) so the twin's output schema
    matches the Spark operator, which drops it — a bare ``SELECT *``
    would leak ``__take_rk`` into any caller that compares schemas
    directly rather than aggregating over the subquery."""
    b = hash_bucket_sql("doc_id", TAKE_SALT)
    return (
        f"SELECT * EXCLUDE (__take_rk) FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY lang "
        # NULLS FIRST pins Spark's ASC default (DuckDB defaults LAST):
        # a NULL id would otherwise rank first on one engine and last
        # on the other, flipping which row survives a full stratum
        f"ORDER BY {b} NULLS FIRST, doc_id NULLS FIRST) "
        f"AS __take_rk FROM documents"
        f") WHERE __take_rk <= {TAKE_K}"
    )


# --------------------------------------------------------------------------
# domain-mixture rebalancing
# --------------------------------------------------------------------------

def _fmt_double(v: float) -> str:
    """Render a Python float as a SQL literal DuckDB parses as DOUBLE
    (exponent notation forces DOUBLE — a bare ``0.2`` would parse as
    DECIMAL and round through a different type) with enough digits
    (17) to round-trip to the identical IEEE-754 value."""
    return format(float(v), ".17e")


def _domain_weight_case(weights: Mapping[str, float]) -> Column:
    """``CASE domain WHEN d THEN w ...`` as a Column (NULL for
    untargeted domains — callers filter those out first)."""
    expr = None
    for d, v in weights.items():
        cond = F.col("domain") == F.lit(d)
        lit = F.lit(float(v))
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    return expr


def mixture_rates(
    df: DataFrame,
    weights: Mapping[str, float],
    domain_col: str = "source",
    tokens: Column | str = "n_chars",
) -> DataFrame:
    """Per-domain keep rates that rebalance a corpus to a target
    token MIXTURE — the knob every LLM data pipeline turns (web vs
    code vs books weights; "The Pile"-style recipes): given target
    shares ``weights`` (``domain -> fraction``), downsample each
    domain so the kept corpus's token distribution matches the
    targets, keeping as many tokens as feasible WITHOUT upsampling.

    The feasible budget is ``B = min_d(T_d / w_d)`` (the domain that
    runs out first binds everyone); each domain then keeps
    ``rate_d = w_d * B / T_d ≤ 1`` of its tokens.  Rates are computed
    IN-ENGINE from the per-domain token totals ``T_d`` using only
    correctly-rounded IEEE-754 ops (``*``, ``/``, ``min``), so any
    oracle engine derives bit-identical rates from the same data —
    no driver-side float formatting in the loop.

    Returns one row per targeted domain:
    ``(domain, n_docs, total_tokens, target_weight, keep_rate,
    __thr)`` where ``__thr`` is the rate as a fixed-width-hex
    hash-bucket threshold (the ``rate ≥ 1`` binding domain gets the
    ``'gggggggg'`` keep-everything sentinel; the near-1 product that
    rounds up to exactly 2^32 clamps to ``0xffffffff`` in both
    engines, so parity survives the edge).

    Scale: one partial-agg groupBy (|domains| rows) + a 1-row
    broadcast min — the corpus itself is never shuffled here."""
    if not weights:
        raise ValueError("weights must name at least one domain")
    tok = (F.col(tokens) if isinstance(tokens, str) else tokens).cast("bigint")
    d = df.filter(F.col(domain_col).isin(list(weights)))
    totals = (
        d.select(F.col(domain_col).alias("domain"), tok.alias("__tok"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").alias("total_tokens"),
        )
        .withColumn("target_weight", _domain_weight_case(weights))
    )
    feasible = totals.agg(
        F.min(F.col("total_tokens") / F.col("target_weight")).alias("__B")
    )
    rate = F.least(
        F.lit(1.0),
        F.col("target_weight") * F.col("__B") / F.col("total_tokens"),
    )
    thr = F.when(F.col("keep_rate") >= F.lit(1.0), F.lit("g" * 8)).otherwise(
        F.format_string(
            "%08x",
            F.least(
                F.floor(F.col("keep_rate") * F.lit(_U32_SPAN)),
                F.lit(int(_U32_SPAN) - 1),
            ),
        )
    )
    return (
        totals.crossJoin(F.broadcast(feasible))
        .withColumn("keep_rate", rate)
        .withColumn("__thr", thr)
        .select(
            "domain", "n_docs", "total_tokens", "target_weight",
            "keep_rate", "__thr",
        )
    )


def mixture_sample(
    df: DataFrame,
    weights: Mapping[str, float],
    domain_col: str = "source",
) -> DataFrame:
    """The rebalanced corpus itself, weighed in ``n_tokens``: rows of
    targeted domains whose
    salted hash bucket falls under their domain's
    :func:`mixture_rates` threshold.  Untargeted domains drop.  The
    rates frame (|domains| rows) broadcasts onto the corpus — the
    membership decision is a map-side hash compare, no corpus
    shuffle, same sample on every run and cluster size."""
    rates = mixture_rates(df, weights, domain_col=domain_col, tokens="n_tokens")
    thr = rates.select(F.col("domain").alias(domain_col), "__thr")
    return (
        df.join(F.broadcast(thr), on=domain_col)
        .filter(hash_bucket("doc_id", MIXTURE_SALT) < F.col("__thr"))
        .drop("__thr")
    )


def mixture_report(df: DataFrame, tokens: Column | str) -> DataFrame:
    """Accounting panel for :func:`mixture_sample` over ``lang`` at the
    ``MIXTURE_WEIGHTS`` targets: per domain the corpus totals, target weight, keep rate, kept docs/tokens, and
    the ACHIEVED token share — the number that should land on the
    target weight (up to per-document sampling granularity)."""
    tok = (F.col(tokens) if isinstance(tokens, str) else tokens).cast("bigint")
    rates = mixture_rates(df, MIXTURE_WEIGHTS, domain_col="lang", tokens=tokens)
    d = df.filter(F.col("lang").isin(list(MIXTURE_WEIGHTS))).select(
        F.col("lang").alias("domain"),
        F.col("doc_id").alias("__id"),
        tok.alias("__tok"),
    )
    kept = (
        d.join(F.broadcast(rates.select("domain", "__thr")), on="domain")
        .filter(hash_bucket("__id", MIXTURE_SALT) < F.col("__thr"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("__tok").alias("kept_tokens"),
        )
    )
    tot = kept.agg(F.sum("kept_tokens").alias("__tk"))
    return (
        rates.join(kept, on="domain", how="left")
        .crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            "total_tokens",
            "target_weight",
            F.round("keep_rate", 6).alias("keep_rate"),
            F.coalesce("kept_docs", F.lit(0).cast("bigint")).alias(
                "kept_docs"
            ),
            F.coalesce("kept_tokens", F.lit(0).cast("bigint")).alias(
                "kept_tokens"
            ),
            F.round(
                F.coalesce("kept_tokens", F.lit(0).cast("bigint"))
                / F.col("__tk"),
                6,
            ).alias("achieved_share"),
        )
        .orderBy("domain")
    )


def _mixture_threshold_ctes(
    weights: Mapping[str, float],
    table: str,
    domain_expr: str,
    tokens_expr: str,
) -> str:
    """Shared ``__d``/``__t``/``__b``/``__r``/``__h`` CTE chain — the
    in-engine per-domain keep-rate derivation and its hex hash-bucket
    threshold, used by both the report twin and the membership twin
    (identical doubles, identical clamp)."""
    in_list = ", ".join(f"'{d}'" for d in weights)
    whens = " ".join(
        f"WHEN '{d}' THEN {_fmt_double(v)}" for d, v in weights.items()
    )
    span = int(_U32_SPAN)
    return f"""__d AS (
  SELECT {domain_expr} AS domain, doc_id AS __id,
         CAST({tokens_expr} AS BIGINT) AS __tok
  FROM {table} WHERE {domain_expr} IN ({in_list})
), __t AS (
  SELECT domain, COUNT(*) AS n_docs,
         CAST(SUM(__tok) AS BIGINT) AS total_tokens,
         (CASE domain {whens} END) AS target_weight
  FROM __d GROUP BY domain
), __b AS (
  SELECT MIN(total_tokens / target_weight) AS __B FROM __t
), __r AS (
  SELECT domain, n_docs, total_tokens, target_weight,
         LEAST(1e0, target_weight * __B / total_tokens) AS keep_rate
  FROM __t CROSS JOIN __b
), __h AS (
  SELECT *, CASE WHEN keep_rate >= 1e0 THEN 'gggggggg'
                 ELSE printf('%08x', LEAST(CAST(FLOOR(keep_rate * {span}e0)
                      AS BIGINT), {span - 1})) END AS __thr
  FROM __r
)"""


def mixture_sample_sql(
    weights: Mapping[str, float],
    table: str = "documents",
    domain_expr: str = "source",
    cols: str = "*",
) -> str:
    """DuckDB twin of :func:`mixture_sample` — the kept ROWS, not the
    accounting panel: ``table`` rows of targeted domains whose salted
    hash bucket falls under the in-engine per-domain threshold.
    ``domain_expr`` and ``doc_id`` must be plain columns of ``table``
    here (they qualify the outer join/filter as well as the CTE
    chain)."""
    b = hash_bucket_sql("doc_id", MIXTURE_SALT)
    return f"""
SELECT {cols}
FROM {table}
JOIN (WITH {_mixture_threshold_ctes(weights, table, domain_expr, "n_tokens")}
      SELECT domain, __thr FROM __h) __mx
  ON {domain_expr} = __mx.domain
WHERE {b} < __mx.__thr
"""


def mixture_report_sql(tokens_expr: str) -> str:
    """DuckDB twin of :func:`mixture_report` over ``documents`` — same salt, same
    in-engine rate derivation (weights rendered via :func:`_fmt_double`
    so both engines hold the identical doubles), same hex-threshold
    clamp."""
    b = hash_bucket_sql("d.__id", MIXTURE_SALT)
    return f"""
WITH {_mixture_threshold_ctes(MIXTURE_WEIGHTS, "documents", "lang", tokens_expr)}, __k AS (
  SELECT d.domain, COUNT(*) AS kept_docs,
         CAST(SUM(d.__tok) AS BIGINT) AS kept_tokens
  FROM __d d JOIN __h h USING (domain)
  WHERE {b} < h.__thr
  GROUP BY d.domain
), __tot AS (
  SELECT CAST(SUM(kept_tokens) AS BIGINT) AS __tk FROM __k
)
SELECT h.domain, h.n_docs, h.total_tokens, h.target_weight,
       ROUND(h.keep_rate, 6) AS keep_rate,
       COALESCE(k.kept_docs, 0) AS kept_docs,
       COALESCE(k.kept_tokens, 0) AS kept_tokens,
       ROUND(COALESCE(k.kept_tokens, 0) / t.__tk, 6) AS achieved_share
FROM __h h LEFT JOIN __k k USING (domain) CROSS JOIN __tot t
ORDER BY h.domain
"""


def corpus_shuffle(docs: DataFrame) -> DataFrame:
    """Deterministic global TRAINING ORDER → ``(doc_id, position,
    shard)``: the reproducible shuffle every training run needs — the
    same permutation on any cluster size, with no ``rand()`` and no
    shared state.  ``position`` is the rank of ``md5(42:id)`` over the
    corpus (0-based, dense); ``shard`` = ``position % 4`` is the
    round-robin worker assignment, so shards interleave the
    permutation instead of each taking a contiguous (hash-biased)
    slab.

    Scale shape: the permutation key IS the hash, so bucketing by its
    first 2 hex chars (256 buckets) aligns bucket order with global
    order — the classic two-level
    rank: per-bucket counts → exclusive running offsets over the
    ≤16^prefix-row subtotal relation (the only global window, bounded
    by construction), per-bucket ``row_number`` parallel over buckets,
    ``position = offset + rn − 1``.  One corpus shuffle on the bucket
    key, never a global sort of the data.  The DuckDB twin is the
    textbook single-window rank, so the oracle simultaneously proves
    the two-level decomposition (:func:`corpus_shuffle_sql`).

    NULL ids are dropped (not orderable — the pack_bins contract);
    duplicate ids share a hash and tie-break on the id itself, so
    full-row duplicates get adjacent, deterministic positions.
    """
    sid = F.col("doc_id")
    key = F.md5(F.concat(F.lit("42:"), sid.cast("string")))
    d = docs.filter(sid.isNotNull()).select(
        sid, key.alias("__key")
    ).withColumn("__bkt", F.substring("__key", 1, 2))
    per_bucket = d.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__n"))
    from pyspark.sql import Window

    w_buckets = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "__bkt",
        F.coalesce(
            F.sum("__n").over(w_buckets), F.lit(0).cast("bigint")
        ).alias("__off"),
    )
    w_in = Window.partitionBy("__bkt").orderBy("__key", "doc_id")
    return (
        d.join(offsets, on="__bkt")
        .select(
            sid,
            (
                F.col("__off") + F.row_number().over(w_in) - 1
            ).alias("position"),
        )
        .withColumn(
            "shard", F.pmod(F.col("position"), F.lit(4)).cast("int")
        )
    )


def corpus_shuffle_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`corpus_shuffle` — the textbook
    single-window rank over the same hash key."""
    key = "md5('42:' || CAST(doc_id AS VARCHAR))"
    return f"""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY {key}, doc_id) - 1 AS BIGINT)
         AS position,
       CAST((row_number() OVER (ORDER BY {key}, doc_id) - 1)
            % 4 AS INT) AS shard
FROM {table}
WHERE doc_id IS NOT NULL
"""


def cluster_balance_sample(df: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Semantic cluster-balanced curation (r15, the r14 verdict's #5 —
    the SemDeDup / cluster-curation shape): assign every document to
    its nearest frozen-seed centroid in EMBEDDING space
    (``llm.vectors.seed_centroids`` — the same deterministic
    quantizer the IVF index family shares with its SQL twin), then
    rebalance token mass EVENLY across the ``BALANCE_CELLS`` semantic
    clusters with the :func:`mixture_sample` machinery (domain =
    cluster id): every cluster downsamples to the smallest cluster's
    token total, so one dominant topic cannot swamp the freeze the
    way one dominant language can't under the lang mixture.

    Distributed shape: centroids are a ``BALANCE_CELLS``-row
    literal broadcast into a map-side nearest-cell projection; the
    doc↔cluster attach is one id equi-join; membership is the usual
    |clusters|-row broadcast threshold compare — no corpus-wide
    shuffle beyond the join.  Output: the kept rows of ``df`` plus
    their ``cluster_id`` (string, the mixture domain)."""
    from .vectors import (
        _assign_cells_literal,
        _collect_centroids,
        finite_vec,
        norm,
        seed_centroids,
    )

    vcast = F.col("embedding").cast("array<double>")
    corpus = embeddings.filter(finite_vec("embedding")).select(
        F.col("vec_id"),
        vcast.alias("__v"),
        norm(vcast).alias("__n"),
    )
    cent_rows = _collect_centroids(
        seed_centroids(embeddings)
    )
    assigned = _assign_cells_literal(corpus, cent_rows).select(
        F.col("vec_id").alias("doc_id"),
        F.col("cell_id").cast("string").alias("cluster_id"),
    )
    tagged = df.join(assigned, on="doc_id")
    weights = {str(c): 1.0 / BALANCE_CELLS for c in range(BALANCE_CELLS)}
    return mixture_sample(
        tagged,
        weights,
        domain_col="cluster_id",
    )


def cluster_balance_sample_sql(cols: str = "*") -> str:
    """DuckDB twin of :func:`cluster_balance_sample` over the relation
    ``good`` carrying ``doc_id`` rows: the SHARED seeded
    centroid/assignment SQL of the IVF twins (the ``BALANCE_CELLS`` smallest
    vec_ids as centroids, nearest-cell by cosine with the (sim DESC,
    cell_id) tie-break) feeding :func:`mixture_sample_sql` with the
    cluster id as the mixture domain."""
    from .vectors import VEC_OK_SQL

    weights = {str(c): 1.0 / BALANCE_CELLS for c in range(BALANCE_CELLS)}
    member = mixture_sample_sql(
        weights,
        table="__tagged",
        domain_expr="cluster_id",
        cols=cols,
    )
    return f"""
WITH __cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE {VEC_OK_SQL} ORDER BY vec_id LIMIT {BALANCE_CELLS})
), __emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE {VEC_OK_SQL}
), __assigned AS (
  SELECT e.vec_id, CAST(c.cell_id AS VARCHAR) AS cluster_id
  FROM __emb e CROSS JOIN __cents c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell_id) = 1
), __tagged AS (
  SELECT t.*, a.cluster_id FROM good t
  JOIN __assigned a ON a.vec_id = t.doc_id
)
{member}"""
