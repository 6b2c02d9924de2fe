#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median that BENCHMARK.json's bounds
are judged against.

    python3 perfbench/spread.py --workload stream_ingest --seeds 1-10 [--trace 0]

Run from the repository root; one run at a time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import report  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    runs = []
    for s in seeds(a.seeds):
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                              "--seed", str(s), "--seconds", str(seconds),
                              "--trace", str(a.trace)], capture_output=True, text=True)
        line = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(line)
        print(json.dumps({"seed": s, "correct": line["correct"],
                          **{k: round(v["value"], 4) for k, v in line["metrics"].items()}}),
              flush=True)
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        spread = report.quartile_spread(xs) if len(xs) > 1 and statistics.median(xs) else 0.0
        print(f"{name:28s} median {statistics.median(xs):14.4f}  spread {spread:.4f}")
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
