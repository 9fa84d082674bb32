"""Summarize a `pytest --durations=0` log into per-file totals (r16,
the r15 verdict's #2): the slow-tier split is chosen from measured
durations, not guesses.

Usage: python scripts/pytest_tier_report.py pytest_r16_durations.log [budget_sec]
       python scripts/pytest_tier_report.py <log> --manifest [thr_sec]

``--manifest`` regenerates tests/slow_manifest.txt: every node id
whose measured call time is >= thr_sec (default 1.75) enters the slow
tier (see tests/conftest.py::pytest_collection_modifyitems).  It
refuses a log that lacks any node id the current manifest lists: a
log captured under the default ``-m "not slow"`` selection holds no
slow test, and rebuilding from it would drop every slow test back
into the budgeted tier.  Capture the log with
``python -m pytest tests/ -m "slow or not slow" --durations=0``.

Prints per-file total seconds (sorted desc), the cumulative share,
and the suggested `slow` file set: the smallest set of files whose
exclusion brings the remaining recorded duration under the budget
(default 600 s recorded ≈ comfortably inside the driver's ~21-min
wall budget once fixture/collection overhead is added back).
"""

from __future__ import annotations

import re
import sys
from collections import defaultdict


def _write_manifest(path: str, thr: float) -> None:
    pat = re.compile(r"^\s*([0-9.]+)s\s+(call|setup|teardown)\s+(tests/\S+)")
    rows, seen = [], set()
    for line in open(path):
        m = pat.match(line)
        if m:
            seen.add(m.group(3))
            if m.group(2) == "call":
                rows.append((float(m.group(1)), m.group(3)))
    out = "tests/slow_manifest.txt"
    with open(out) as f:
        listed = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
    missing = [n for n in listed if n not in seen]
    if missing:
        sys.exit(
            f"refusing to rewrite {out}: {path} lacks {len(missing)} of its "
            f"{len(listed)} node ids (first: {missing[0]}). The log was "
            "likely captured under the default -m 'not slow' selection; "
            "re-run with -m 'slow or not slow' --durations=0."
        )
    slow = sorted(n for s, n in rows if s >= thr)
    kept = sum(s for s, n in rows if s < thr)
    with open(out, "w") as f:
        f.write("# Slow-tier manifest (r16, the r15 verdict's #2).\n")
        f.write(f"# Node ids with call time >= {thr} s in {path}.\n")
        f.write("# conftest.py marks these `slow`; pytest.ini deselects them\n")
        f.write("# by default so the driver's budgeted verify run fits; the\n")
        f.write("# full local gate runs them via -m 'slow or not slow'.\n")
        f.write("# Regenerate: python scripts/pytest_tier_report.py <log> --manifest\n")
        for n in slow:
            f.write(n + "\n")
    print(f"wrote {out}: {len(slow)} slow tests, "
          f"{kept:.0f}s recorded kept in the default tier")


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "pytest_r16_durations.log"
    if "--manifest" in sys.argv:
        i = sys.argv.index("--manifest")
        thr = float(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 1.75
        _write_manifest(path, thr)
        return
    budget = float(sys.argv[2]) if len(sys.argv) > 2 else 600.0
    per_file: dict[str, float] = defaultdict(float)
    per_kind: dict[str, float] = defaultdict(float)
    total = 0.0
    pat = re.compile(
        r"^\s*([0-9.]+)s\s+(call|setup|teardown)\s+(tests/[^:]+)::"
    )
    for line in open(path):
        m = pat.match(line)
        if not m:
            continue
        sec, kind, f = float(m.group(1)), m.group(2), m.group(3)
        per_file[f] += sec
        per_kind[kind] += sec
        total += sec
    print(f"recorded total: {total:.0f}s across {len(per_file)} files "
          f"(by phase: {dict((k, round(v)) for k, v in per_kind.items())})")
    ranked = sorted(per_file.items(), key=lambda kv: -kv[1])
    cum = 0.0
    slow: list[str] = []
    for f, s in ranked:
        keep_total = total - cum
        print(f"{s:8.1f}s  {f}   (remaining if all above marked slow: {keep_total:.0f}s)")
        if keep_total > budget:
            slow.append(f)
            cum += s
    print()
    print(f"suggested slow tier ({len(slow)} files, "
          f"{cum:.0f}s removed, {total - cum:.0f}s kept):")
    for f in slow:
        print(" ", f)


if __name__ == "__main__":
    main()
