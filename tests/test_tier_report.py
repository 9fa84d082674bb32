"""scripts/pytest_tier_report.py --manifest rebuilds the slow-tier
manifest only from a durations log that covers every test the current
manifest lists.  Each case runs the script in a temp cwd holding its
own copy of tests/slow_manifest.txt, so the real manifest is never
touched.  The manifest itself must name only tests that still exist."""

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "scripts", "pytest_tier_report.py")
MANIFEST = os.path.join(ROOT, "tests", "slow_manifest.txt")
FULL_LOG = os.path.join(ROOT, "pytest_r16_durations.log")


def _node_ids(path):
    with open(path) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


def _run(cwd, log):
    (cwd / "tests").mkdir()
    shutil.copy(MANIFEST, cwd / "tests" / "slow_manifest.txt")
    return subprocess.run(
        [sys.executable, SCRIPT, str(log), "--manifest"],
        cwd=cwd, capture_output=True, text=True, timeout=60,
    )


def test_refuses_log_captured_without_the_slow_tier(tmp_path):
    # what `pytest --durations=0` prints under the default -m "not slow"
    log = tmp_path / "fast_only.log"
    log.write_text(
        "0.90s call     tests/test_bloom.py::test_fpp_bounded\n"
        "0.20s setup    tests/test_bloom.py::test_fpp_bounded\n"
    )
    out = _run(tmp_path, log)
    assert out.returncode != 0
    assert "refusing to rewrite tests/slow_manifest.txt" in out.stderr
    assert "slow or not slow" in out.stderr
    copy = tmp_path / "tests" / "slow_manifest.txt"
    assert copy.read_text() == open(MANIFEST).read()


def test_full_log_regenerates_the_committed_manifest(tmp_path):
    out = _run(tmp_path, FULL_LOG)
    assert out.returncode == 0, out.stderr
    rebuilt = _node_ids(tmp_path / "tests" / "slow_manifest.txt")
    assert rebuilt == _node_ids(MANIFEST)


def test_manifest_lists_only_collected_tests():
    """A manifest id no test carries any more is drift: the test was
    deleted or renamed, and a renamed slow test silently joined the
    budgeted tier under its new id.  Collect everything (both tiers,
    no Spark) and check every listed id is still there."""
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q",
         "-m", "slow or not slow", "-p", "no:cacheprovider"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    collected = {ln.strip() for ln in out.stdout.splitlines() if "::" in ln}
    stale = [i for i in _node_ids(MANIFEST) if i not in collected]
    assert stale == [], (
        "tests/slow_manifest.txt lists ids no test carries (drop them, "
        "or list the renamed id):\n  " + "\n  ".join(stale)
    )
