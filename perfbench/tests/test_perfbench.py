"""The benchmark's own tests: smoke runs of ``run.py`` with ``--seconds 1``
(one timed pass, two traced passes when tracing) at sf0.001.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import probe  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: the layers whose spans each workload must record
LAYERS = {
    "etl_dashboard": {"plans", "spark", "sources", "operators", "functions"},
    "llm_corpus": {"plans", "spark", "sources", "llm", "operators", "streaming", "driver"},
}


def smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def record(workload: str, trace: int, suffix: str = "json") -> dict:
    path = os.path.join(run.WORK_DIR, "records", f"{workload}-seed1-trace{trace}.{suffix}")
    with open(path) as f:
        return json.load(f)


def test_end_to_end_smoke_reports_every_metric():
    res = smoke("etl_dashboard", 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_smoke_reports_every_layer(workload):
    res = smoke(workload, 1)
    assert res["correct"] and res["failed"] == 0
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    assert list(metrics) == [m["name"] for m in SPEC["per_layer"]]
    assert all(isinstance(v, (int, float)) for v in metrics.values())

    spans = record(workload, 1, "spans.json")["spans"]
    seen = {s["name"].split(".")[0] for s in spans}
    assert LAYERS[workload] <= seen, f"missing spans for {LAYERS[workload] - seen}"
    assert all(s["trace"] for s in spans)

    # the workload design the README states
    assert (metrics["streaming.trigger_s"] > 0) == (workload == "llm_corpus")
    if workload == "etl_dashboard":
        assert metrics["sources.files_written"] == 0
    if workload == "llm_corpus":
        assert metrics["plans.construct_s"] > metrics["spark.execute_s"]
        assert metrics["sources.write_calls"] > 0


def test_dropped_row_raises_error_rate(tmp_path):
    """A query whose result lost one row fails the twin comparison, and
    that failure is what makes error_rate non-zero."""
    data_dir = os.path.join(BENCH, "data", f"sf{run.SF}")
    engine = run.Engine()
    spark = engine.get_spark(
        "perfbench-test", extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "warehouse")}
    )
    good = engine.queries["dedup_full_row"]

    def dropped_row(spark, sf_dir):
        df = good(spark, sf_dir)
        return df.exceptAll(df.limit(1))

    engine.queries = {**engine.queries, "dropped_row": dropped_row}
    engine.oracles = {**engine.oracles, "dropped_row": engine.oracles["dedup_full_row"]}
    problems = run.check_queries(
        spark, run.load_check_oracle(), engine, ["dedup_full_row", "dropped_row"], data_dir
    )
    assert problems["dedup_full_row"] == []
    assert "rowcount" in problems["dropped_row"][0]
    attempted, failed = run.count_failures(problems, [])
    assert failed / attempted == 0.5


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 41)]
    assert run.tail(values) == (30.0, 75.0, 40)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_rescaling_divides_out_the_probe():
    assert probe.rescaled(2.0, [probe.REF_S, probe.REF_S]) == 2.0
    slow = probe.rescaled(2.0, [2 * probe.REF_S])
    assert slow == pytest.approx(2.0 / 2**probe.ELASTICITY)


def test_end_to_end_rescales_each_query_by_its_own_probes():
    ref = probe.REF_S
    samples = [
        {"pass": 0, "query": "a", "error": None, "latency_s": 1.0, "probe_s": (ref, ref), "cpu": {"cpu_s": 1.0}},
        {"pass": 0, "query": "b", "error": None, "latency_s": 2.0, "probe_s": (2 * ref, 2 * ref), "cpu": {"cpu_s": 1.0}},
    ]
    setups = [(0.5, (ref, ref)), (0.6, (ref, ref)), (0.7, (ref, ref))]
    measured = run.end_to_end(samples, setups, 100.0, rescale=False)
    scaled = run.end_to_end(samples, setups, 100.0, rescale=True)
    assert measured["wall_s"] == 3.0 and measured["setup_s"] == 0.6
    assert scaled["wall_s"] == pytest.approx(1.0 + 2.0 / 2**probe.ELASTICITY)
    assert scaled["setup_s"] == 0.6 and scaled["peak_rss_mb"] == 100.0
