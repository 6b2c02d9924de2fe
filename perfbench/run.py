#!/usr/bin/env python3
"""The repository benchmark: one command, three seeded closed-loop
workloads over the graft engine.

    python3 perfbench/run.py --workload lake_lifecycle --seed 1 --seconds 18 --trace 0

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), runs the harness JVM at local[4] with one
client thread, checks every answer against an independent replay
(perfbench/oracle.py) and prints one JSON line last: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`
(perfbench/report.py). Exit status is 0 only when every answer was
correct.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("lake_lifecycle", "stream_ingest")
DEADLINE_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(classes, args, work, budget_s, cores):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Duser.language=en",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {budget_s:.0f} s; see {work}/jvm.log", 3)
        finally:
            # also on SIGTERM or an interrupt: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {code}:\n{tail}", 3)


def main(argv=None):
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]",
                    help="Spark master; local[1] gives the serial reference run")
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        classes = build.build(root)
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        fail(f"cannot build the engine from {root}: {e}")

    runs = os.path.join(HERE, ".runs")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(runs, tag)
    shutil.rmtree(out, ignore_errors=True)
    inputs, work = os.path.join(out, "inputs"), os.path.join(out, "work")
    os.makedirs(work)

    g0 = time.time()
    described = gen.generate(a.seed, a.workload, inputs)
    gen_s = time.time() - g0

    result_path = os.path.join(out, "result.json")
    launch_ms = int(time.time() * 1000)
    run_jvm(classes, ["--workload", a.workload, "--input", inputs, "--work", work,
                      "--seconds", repr(a.seconds), "--trace", str(a.trace),
                      "--master", a.master, "--launch-ms", str(launch_ms),
                      "--out", result_path],
            work, DEADLINE_S - (time.time() - t_start),
            a.master[len("local["):-1] if a.master.startswith("local[") else "4")
    with open(result_path) as f:
        result = json.load(f)
    checked = oracle.check(a.workload, inputs, result)
    metrics = (report.per_layer(result) if a.trace
               else report.end_to_end(result, gen_s))
    phases = {k: result[k] for k in ("session_s", "workload_setup_s", "warmup_s",
                                     "measured_s", "finish_s", "parallelism")}
    summary = dict(workload=a.workload, seed=a.seed, inputs=described,
                   input_digest=gen.digest(inputs), checks=checked["detail"],
                   generate_s=gen_s, phases=phases, wall_s=time.time() - t_start,
                   samples=report.sample_counts(result), metrics=metrics)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    line = dict(correct=checked["failed"] == 0, attempted=checked["attempted"],
                failed=checked["failed"], metrics=metrics)
    print(json.dumps(line, sort_keys=True))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
