#!/usr/bin/env python3
"""Traced run of every workload, with tracing overhead.

    python3 perfbench/trace_report.py [--seed 1] [--seconds 10]

Runs each workload untraced, then traced, with the same seed, and writes
perfbench/results/traced.json: every per-layer metric of the traced run,
the end-to-end metrics of both runs, and the tracing overhead (traced over
untraced, minus one) of each end-to-end metric.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def run(workload, seed, seconds, trace):
    with tempfile.NamedTemporaryFile(suffix=".json", dir=os.path.join(HERE, ".work")) as f:
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--artifact", f.name], check=True, stdout=subprocess.DEVNULL)
        return json.load(open(f.name))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    report = {}
    for w in WORKLOADS:
        plain, traced = run(w, a.seed, a.seconds, 0), run(w, a.seed, a.seconds, 1)
        report[w] = {
            "per_layer": traced["per_layer"],
            "end_to_end_untraced": plain["end_to_end"],
            "end_to_end_traced": traced["end_to_end"],
            "tracing_overhead": {k: traced["end_to_end"][k] / v - 1.0
                                 for k, v in plain["end_to_end"].items() if v},
            "notes_traced": traced["notes"], "host_untraced": plain["host"],
            "host_traced": traced["host"]}
        print(w, json.dumps(report[w]["tracing_overhead"]), flush=True)
    out = os.path.join(HERE, "results", "traced.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"seed": a.seed, "seconds": a.seconds, "workloads": report}, f,
                  indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
