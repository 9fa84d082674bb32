"""Unit tests for llm/winnow.py (winnowing fingerprints, r9).

Pins the Schleimer et al. guarantees the docstring promises:
* any shared token run of >= w + k - 1 tokens yields a shared
  fingerprint;
* no fingerprint comes from a run shorter than k tokens;
* density: every w-window contributes a selection (coverage), and
  selections are far sparser than the shingle count;
* leftmost-min tie rule, short-doc clamping, NULL contracts;
* the df-capped pair join finds planted plagiarism and ignores
  boilerplate-only overlap past WINNOW_MAX_DF.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.winnow import WINNOW_K as K
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.winnow import WINNOW_MAX_DF
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.winnow import WINNOW_W as W
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.winnow import (
    winnow_fingerprints,
    winnow_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _fps(spark, rows):
    return winnow_fingerprints(_docs(spark, rows)).collect()


def test_shared_long_run_shares_a_fingerprint(spark):
    # guarantee: a shared run of w + k - 1 = 6 tokens must collide
    shared = "alpha bravo charlie delta echo foxtrot"
    rows = [
        (1, f"one unique prefix here {shared} tail a"),
        (2, f"totally different opening words {shared} other end b"),
    ]
    out = _fps(spark, rows)
    fps1 = {r.fp for r in out if r.doc_id == 1}
    fps2 = {r.fp for r in out if r.doc_id == 2}
    assert fps1 & fps2, "6-token shared run must produce a shared fingerprint"


def test_disjoint_texts_share_nothing(spark):
    rows = [
        (1, "aa bb cc dd ee ff gg hh ii jj"),
        (2, "kk ll mm nn oo pp qq rr ss tt"),
    ]
    out = _fps(spark, rows)
    fps1 = {r.fp for r in out if r.doc_id == 1}
    fps2 = {r.fp for r in out if r.doc_id == 2}
    assert fps1 and fps2 and not (fps1 & fps2)


def test_every_window_is_covered_and_positions_valid(spark):
    toks = [f"t{i}" for i in range(40)]  # 38 shingles, windows 0..34
    out = _fps(spark, [(1, " ".join(toks))])
    m = len(toks) - K + 1
    pos = sorted(r.fp_pos for r in out)
    assert all(0 <= p < m for p in pos)
    # coverage: consecutive selections can be at most w apart — a gap
    # of more than w-1 would mean some window selected nothing
    gaps = [b - a for a, b in zip(pos, pos[1:])]
    assert all(g <= W for g in gaps)
    # density: distinct selections ≈ 2/(w+1) per window, far below m
    assert len(out) < m


def test_matches_bruteforce_winnowing(spark):
    import hashlib

    toks = [f"w{i % 7}x{i % 5}" for i in range(25)]
    out = _fps(spark, [(1, " ".join(toks))])
    shingle = [" ".join(toks[i : i + K]) for i in range(len(toks) - K + 1)]
    hashes = [hashlib.md5(s.encode()).hexdigest() for s in shingle]
    expect = set()
    for p in range(len(hashes) - W + 1):
        window = hashes[p : p + W]
        mn = min(window)
        expect.add((p + window.index(mn), mn))  # leftmost-min tie rule
    assert {(r.fp_pos, r.fp) for r in out} == expect


def test_short_doc_clamps_to_global_min(spark):
    # 4 tokens -> 2 shingles < w: one clamped window, the global min
    out = _fps(spark, [(1, "aa bb cc dd")])
    assert len(out) == 1
    # degenerate docs: fewer than k tokens, empty, NULL id, NULL text
    assert _fps(spark, [(2, "aa bb"), (3, ""), (None, "aa bb cc dd ee"), (4, None)]) == []


def test_pairs_find_planted_plagiarism(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"intro one {shared} outro one"),
        (2, f"different intro {shared} different outro"),
        (3, "nothing in common with anyone here at all today friends"),
    ]
    fps = winnow_fingerprints(_docs(spark, rows))
    pairs = winnow_pairs(fps).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].n_shared >= 2


def test_pairs_df_cap_drops_boilerplate_fingerprints(spark):
    # the same snippet in more than WINNOW_MAX_DF docs is boilerplate:
    # none of its fingerprints may pair anything
    snippet = (
        "standard footer text appears in every single document here "
        "please read our terms of service and privacy policy first"
    )
    rows = [(i, f"doc {i} body {snippet}") for i in range(1, WINNOW_MAX_DF + 2)]
    fps = winnow_fingerprints(_docs(spark, rows))
    assert winnow_pairs(fps).collect() == []
    # below the cap the same snippet pairs two of them
    two = winnow_fingerprints(_docs(spark, rows[:2]))
    assert winnow_pairs(two).count() > 0
