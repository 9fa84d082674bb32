"""Duplicated-passage span detection (llm/spans.py).

The load-bearing properties:

1. every exact repeat of >= k tokens is covered by a span in each of
   its occurrences (the k-gram guarantee);
2. spans are MAXIMAL merges — overlapping/touching duplicated k-grams
   never split, disjoint regions never fuse;
3. occurrence semantics: a within-document repeat flags both copies;
4. brute-force equivalence on randomized corpora (the merge logic has
   enough off-by-one surface that only an oracle check is convincing);
5. layout independence (partition-invariance family rule).
"""

from __future__ import annotations

import random

import duckdb

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.spans import SPAN_K as K
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.spans import dup_spans, dup_spans_sql


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _spans(spark, rows):
    out = dup_spans(_docs(spark, rows))
    return [
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_dup_shingles)
        for r in out.collect()
    ]


def _brute(rows, k=K, min_count=2):
    """Pure-python oracle: positions whose k-gram occurs >= min_count
    times corpus-wide, merged with the p' - p <= k rule."""
    toks = {d: t.split() for d, t in rows if d is not None}
    grams: dict[tuple, int] = {}
    for t in toks.values():
        for i in range(len(t) - k + 1):
            g = tuple(t[i : i + k])
            grams[g] = grams.get(g, 0) + 1
    out = []
    for d in sorted(toks):
        t = toks[d]
        flagged = [
            i
            for i in range(len(t) - k + 1)
            if grams[tuple(t[i : i + k])] >= min_count
        ]
        spans = []
        for p in flagged:
            if spans and p - spans[-1][1] <= k:
                spans[-1] = (spans[-1][0], p, spans[-1][2] + 1)
            else:
                spans.append((p, p, 1))
        for s, e, n in spans:
            out.append((d, s, e + k, e + k - s, n))
    return out


def test_shared_passage_flagged_in_both_docs(spark):
    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        ("a", f"alpha opening words {shared} alpha closing"),
        ("b", f"totally different start {shared} and another end"),
        ("c", "no duplicated content whatsoever here at all"),
    ]
    got = _spans(spark, rows)
    assert got == _brute(rows)
    docs = {g[0] for g in got}
    assert docs == {"a", "b"}


def test_within_doc_repeat_counts(spark):
    # the same k-run pasted twice in ONE document duplicates itself
    run = "x y z w v u"
    rows = [("solo", f"{run} filler one two three {run} tail")]
    got = _spans(spark, rows)
    assert got == _brute(rows)
    assert len(got) == 2, f"both copies must span: {got}"


def test_disjoint_regions_do_not_fuse(spark):
    r1, r2 = "a b c d e f", "p q r s t u"
    gap = " ".join(f"u{i}" for i in range(10))
    rows = [
        ("x", f"{r1} {gap} {r2}"),
        ("y", f"{r2} {gap.replace('u', 'v')} {r1}"),
    ]
    got = _spans(spark, rows)
    assert got == _brute(rows)
    assert len([g for g in got if g[0] == "x"]) == 2


def test_short_docs_absent(spark):
    rows = [("tiny", "one two"), ("null_text", None), ("a", "x y z w v x y z w v")]
    got = _spans(spark, rows)
    assert got == _brute([r for r in rows if r[1] is not None])
    assert all(g[0] == "a" for g in got)


def test_null_ids_dropped(spark):
    rows = [(None, "a b c d e a b c d e"), ("k", "d e f")]
    assert _spans(spark, rows) == []


def test_brute_force_randomized(spark):
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(3)]  # small vocab → natural repeats
    rows = [
        (f"d{i}", " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(25)
    ]
    assert _spans(spark, rows) == _brute(rows)


def test_twin_matches_brute_force(spark):
    """The DuckDB twin implements the same semantics (cheap local pin;
    the cross-engine hash equality runs in the sf0.01 gate)."""
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(3)]
    rows = [
        (f"d{i}", " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
        for i in range(15)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?)" for _ in rows)
        + ") AS t(doc_id, text)",
        [x for r in rows for x in r],
    )
    got = [
        tuple(r) for r in con.execute(dup_spans_sql()).fetchall()
    ]
    assert got == _brute(rows)


def test_partition_invariance(spark):
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(3)]
    rows = [
        (f"d{i}", " ".join(rng.choice(vocab) for _ in range(20)))
        for i in range(20)
    ]
    want = None
    for parts in (1, 3, 17):
        df = _docs(spark, rows).repartition(parts)
        got = sorted(
            tuple(r) for r in dup_spans(df).collect()
        )
        if want is None:
            want = got
        else:
            assert got == want, f"spans differ at {parts} partitions"


# ---------------------------------------------------------------------------
# remove_dup_spans (the remediation half)
# ---------------------------------------------------------------------------

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.spans import remove_dup_spans, remove_dup_spans_sql


def _brute_removed(rows, k=K, min_count=2):
    """Pure-python oracle for remove_dup_spans.  Tokenization must
    match the ENGINE tokenizer, which keeps empty edge tokens
    (``'' → ['']``, pinned in the r8 control-chars class) — bare
    ``str.split()`` drops them and undercounts n_tokens."""
    import re

    ws = re.compile(r"[ \t\n\x0B\f\r]+")
    toks = {
        d: ws.split(t) for d, t in rows if d is not None and t is not None
    }
    occs: dict[tuple, list] = {}
    for d in toks:
        t = toks[d]
        for i in range(len(t) - k + 1):
            occs.setdefault(tuple(t[i : i + k]), []).append((d, i))
    flagged: dict[str, set] = {d: set() for d in toks}
    for g, lst in occs.items():
        if len(lst) < min_count:
            continue
        lst = sorted(lst)
        exempt = lst[0]  # keep-first
        for d, p in lst:
            if (d, p) != exempt:
                flagged[d].add(p)
    out = []
    for d in sorted(toks):
        t = toks[d]
        # merge with the p' - p <= k rule, then excise [s, e)
        spans = []
        for p in sorted(flagged[d]):
            if spans and p - spans[-1][1] <= k:
                spans[-1] = (spans[-1][0], p)
            else:
                spans.append((p, p))
        ivals = [(s, e + k) for s, e in spans]
        keep = [
            w
            for i, w in enumerate(t)
            if not any(s <= i < e for s, e in ivals)
        ]
        # fully-excised docs → NULL clean_text (the empty-array
        # portability contract: DuckDB array_to_string([]) is NULL)
        clean = " ".join(keep) if keep else None
        out.append(
            (d, clean, len(t), len(t) - len(keep), len(ivals))
        )
    # NULL-text docs pass through with NULL clean_text
    for d, t in rows:
        if d is not None and t is None:
            out.append((d, None, 0, 0, 0))
    return sorted(out)


def _removed(spark, rows):
    out = remove_dup_spans(_docs(spark, rows))
    return sorted(
        (r.doc_id, r.clean_text, r.n_tokens, r.n_tokens_removed, r.n_spans_removed)
        for r in out.collect()
    )


def test_removal_keep_first_protects_one_copy(spark):
    shared = "p q r s t"
    rows = [
        ("a", f"head {shared} tail"),
        ("b", f"other start {shared} other end"),
    ]
    got = _removed(spark, rows)
    assert got == _brute_removed(rows)
    by_id = {g[0]: g for g in got}
    # doc 'a' holds the first occurrence → untouched; 'b' loses it
    assert by_id["a"][3] == 0
    assert by_id["b"][3] > 0
    assert "p q r s t" not in by_id["b"][1]


def test_removal_null_text_and_untouched_docs(spark):
    rows = [
        ("a", "x y z w v repeated x y z w v"),
        ("clean", "totally unique words nothing shared"),
        ("nulldoc", None),
    ]
    got = _removed(spark, rows)
    assert got == _brute_removed(rows)
    by_id = {g[0]: g for g in got}
    assert by_id["clean"][3] == 0
    assert by_id["nulldoc"][1] is None and by_id["nulldoc"][4] == 0


def test_removal_brute_force_randomized(spark):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(3)]
    rows = [
        (f"d{i}", " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 28))))
        for i in range(22)
    ]
    assert _removed(spark, rows) == _brute_removed(rows)


def test_removal_twin_matches_brute_force(spark):
    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(3)]
    rows = [
        (f"d{i}", " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20))))
        for i in range(14)
    ] + [("dnull", None)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?)" for _ in rows)
        + ") AS t(doc_id, text)",
        [x for r in rows for x in r],
    )
    got = sorted(tuple(r) for r in con.execute(remove_dup_spans_sql()).fetchall())
    assert got == _brute_removed(rows)


def test_removal_partition_invariance(spark):
    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(3)]
    rows = [
        (f"d{i}", " ".join(rng.choice(vocab) for _ in range(18)))
        for i in range(18)
    ]
    want = None
    for parts in (1, 3, 17):
        got = sorted(
            tuple(r)
            for r in remove_dup_spans(_docs(spark, rows).repartition(parts)).collect()
        )
        if want is None:
            want = got
        else:
            assert got == want, f"removal differs at {parts} partitions"
