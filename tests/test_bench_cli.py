"""bench.py's command line: with no arguments it times HEADLINE +
SMALL_TIER (the driver contract); named entries plus ``--conf k=v``
time just those entries in a session built with the overrides."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def test_no_arguments_select_headline_and_small_tier():
    assert bench.selection([]) == (bench.HEADLINE, bench.SMALL_TIER)
    assert bench.selection(["master_table"]) == (("master_table",), ())


def test_named_entry_with_conf_override(tmp_path, smoke_dir):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=smoke_dir,
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), "master_table",
         "--conf", "spark.sql.shuffle.partitions=3"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, out.stdout
    rec = json.loads(lines[0])
    assert set(rec["queries"]) == {"master_table"}
    assert set(rec["samples"]) == {"master_table"}
    assert len(rec["samples"]["master_table"]) == 1
    assert rec["conf"] == {"spark.sql.shuffle.partitions": "3"}
    assert "small_tier" not in rec
    assert rec["sf"] == 0.001


def test_unknown_entry_rejected_before_spark_starts(capsys):
    with pytest.raises(SystemExit) as exc:
        bench.main(["no_such_entry"])
    assert exc.value.code == 2
    assert "unknown entries: no_such_entry" in capsys.readouterr().err
