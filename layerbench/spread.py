#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the spread: the distance between the first and third quartiles as a
share of the median (`statistics.quantiles(values, n=4)`), next to the
metric's bound from BENCHMARK.json.

    python3 layerbench/spread.py --workload replay-batch --seeds 1 2 3 4 5
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    runs = []
    for seed in a.seeds:
        p = subprocess.run([sys.executable, str(Path(__file__).parent / "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        r = json.loads(last)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        runs.append(r)
    if len(runs) < 2:
        return 0
    for name in runs[0]["metrics"]:
        med, s = spread([r["metrics"][name]["value"] for r in runs])
        b = bounds.get(name)
        print(f"{name:40s} median {med:12.5g}  spread {s:7.2%}  bound {b}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
