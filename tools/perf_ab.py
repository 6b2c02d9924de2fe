#!/usr/bin/env python3
"""Paired, alternating A/B of the repository benchmark between two checkouts.

Usage:
    python3 tools/perf_ab.py --parent DIR --change DIR --workload lake_lifecycle \
        [--seeds 1-10] [--keep DIR]

Runs `python3 perfbench/run.py --workload W --seed S --trace 0` for
BENCHMARK.json's `run_seconds` once in each checkout per seed, alternating
which side runs first (odd pairs parent first, even pairs change first),
so drift on the machine falls on both sides alike. Both checkouts are
built before the first pair. Put BOTH sides in copies outside the working
repository, side by side (`git archive <commit> | tar -x -C DIR`): the
checkout's location alone has moved lake_lifecycle timings by several
percent.

Prints one line per run, then one line per end-to-end metric of
BENCHMARK.json (read from the change checkout): the parent and change
medians, the change/parent ratio, the pairs the change won, the parent's
quartile spread (Q3 - Q1) / median as `perfbench/report.py` defines it,
whether the ratio is within the metric's bound, and whether the change
is a gain: it wins at least 9 of 10 pairs and its median beats the
parent's by more than the parent's quartile spread.

With --keep, each run's result.json is copied to DIR, and for every seed
run on both sides the read digests of the statements both sides ran and
the final-state digest are compared (lake_lifecycle; the final state
only when both sides ran the same prefix of the statement log).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
import report  # noqa: E402
from spread import seeds  # noqa: E402


def build(side):
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); "
                    "import build; build.build('.')"],
                   cwd=side, check=True)


def run(side, workload, seed, seconds):
    proc = subprocess.run([sys.executable, "perfbench/run.py",
                           "--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", "0"],
                          cwd=side, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit(f"perf_ab: no result from {side} seed {seed}:\n"
                 f"{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def digests(path):
    with open(path) as f:
        r = json.load(f)
    reads = {o["stmt"]: o["digest"] for o in r["ops"] if "digest" in o}
    last = max(o["stmt"] for o in r["ops"])
    return reads, (last, r.get("checks", {}).get("final_digest"))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--keep")
    a = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.keep:
        os.makedirs(a.keep, exist_ok=True)
    for side in sides.values():
        build(side)

    pairs = seeds(a.seeds)
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for name in order:
            line = run(sides[name], a.workload, seed, bench["run_seconds"])
            metrics = {k: v["value"] for k, v in line["metrics"].items()}
            runs[name].append(metrics)
            print(f"pair {i + 1} seed {seed} {name}: correct={line['correct']} "
                  f"failed={line['failed']} " +
                  " ".join(f"{k}={v:.4g}" for k, v in sorted(metrics.items())),
                  flush=True)
            if a.keep:
                shutil.copy(os.path.join(sides[name], "perfbench", ".runs",
                                         f"{a.workload}-seed{seed}-trace0",
                                         "result.json"),
                            os.path.join(a.keep, f"{name}-{a.workload}-seed{seed}.json"))

    print(f"\n{a.workload}: {len(pairs)} pairs, seeds {a.seeds}")
    print(f"{'metric':<18}{'parent':>12}{'change':>12}{'ratio':>8}"
          f"{'wins':>7}{'spread':>8}  within bound / gain")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        ratio = cm / pm if pm else float("nan")
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        spread = report.quartile_spread(p) if len(p) > 1 and pm else 0.0
        ok = ratio <= 1 + m["bound"] if lower else ratio >= 1 - m["bound"]
        gain = (wins >= 0.9 * len(p) and
                (1 - ratio if lower else ratio - 1) > spread)
        print(f"{name:<18}{pm:>12.4g}{cm:>12.4g}{ratio:>8.3f}"
              f"{wins:>4}/{len(p):<2}{spread:>8.3f}  "
              f"{'yes' if ok else 'NO'} (bound {m['bound']})"
              f"{' / gain' if gain else ''}")

    if a.keep and a.workload == "lake_lifecycle":
        for seed in pairs:
            pr, pf = digests(os.path.join(a.keep, f"parent-{a.workload}-seed{seed}.json"))
            cr, cf = digests(os.path.join(a.keep, f"change-{a.workload}-seed{seed}.json"))
            common = sorted(set(pr) & set(cr))
            same = [s for s in common if pr[s] == cr[s]]
            final = ("identical" if pf == cf else "DIFFERS" if pf[0] == cf[0]
                     else f"not comparable (last statement {pf[0]} vs {cf[0]})")
            print(f"seed {seed}: {len(same)}/{len(common)} common read digests "
                  f"identical; final digest {final}")


if __name__ == "__main__":
    main()
