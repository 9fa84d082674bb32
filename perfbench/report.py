"""Run every workload once and print every metric by name, with its unit.

    python3 perfbench/report.py                # end-to-end metrics + error_rate
                                               # (times rescaled by the host-speed probe)
    python3 perfbench/report.py --trace        # also the traced per-layer run
    python3 perfbench/report.py --seed 3 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    status = 0
    for workload in WORKLOADS:
        for trace in (0, 1) if args.trace else (0,):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(args.seed), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} trace={trace}: FAILED (exit {proc.returncode})\n{proc.stderr[-2000:]}")
                status = 1
                continue
            res = json.loads(lines[-1])
            print(f"{workload} (trace={trace})")
            for name, m in res["metrics"].items():
                print(f"  {name:32s} {m['value']:>16.6g} {m['unit']}")
            if not trace:
                # reported from the run's record, not as benchmark metrics (README.md)
                path = os.path.join(ROOT, ".perfbench", "records", f"{workload}-seed{args.seed}-trace0.json")
                with open(path) as f:
                    rec = json.load(f)
                tail = rec["query_tail"]
                print(f"  {'query_p50_s':32s} {rec['metrics']['query_p50_s']:>16.6g} s")
                print(f"  {'peak_rss_mb':32s} {rec['metrics']['peak_rss_mb']:>16.6g} MB")
                print(f"  {'cpu_s':32s} {rec['cpu_s']:>16.6g} s")
                print(f"  {'query_tail_s':32s} {tail['value']:>16.6g} s"
                      f"  (p{tail['percentile']:.0f} of {tail['samples']} samples)")
            print(f"  {'error_rate':32s} {res['failed'] / res['attempted']:>16.6g} ratio"
                  f"  ({res['failed']} of {res['attempted']} query executions failed)")
            status |= not res["correct"]
    return status


if __name__ == "__main__":
    sys.exit(main())
