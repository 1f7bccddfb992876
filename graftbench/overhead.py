"""Tracing overhead: the traced run's latency minus the untraced run's.

    python3 graftbench/overhead.py [--runs 3] [--seconds 15] [workload ...]

Runs each workload `--runs` times untraced and `--runs` times traced
(seeds 1..runs, alternating) and prints, per workload, the median
`latency_ms` of the untraced runs, the median `trace.latency_ms` of the
traced runs, and their difference.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("workloads", nargs="*", default=["board", "serve", "alert"])
    a = ap.parse_args()
    for w in a.workloads:
        plain, traced = [], []
        for seed in range(1, a.runs + 1):
            plain.append(run(w, seed, a.seconds, 0)["latency_ms"]["value"])
            traced.append(run(w, seed, a.seconds, 1)["trace.latency_ms"]["value"])
        p, t = statistics.median(plain), statistics.median(traced)
        print(json.dumps({"workload": w, "untraced_latency_ms": p, "traced_latency_ms": t,
                          "overhead_ms": t - p, "overhead_share": (t - p) / p}))


if __name__ == "__main__":
    main()
