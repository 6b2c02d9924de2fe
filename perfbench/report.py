"""Metrics of one run, from the harness's result file.

End-to-end metrics come from the untraced operations only, and from the
first `timed_steps` of them when the workload fixes that number. Per-layer
metrics come from the traced operations: the benchmark's own spans
around calls into each module, and the records of Spark's public
listeners (jobs, tasks, Catalyst phases, micro-batches), attributed to
the operation whose wall-clock interval contains them.
"""
import math
import statistics

# name -> unit; the order is the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "write_p50_ms": "ms",
    "read_p50_ms": "ms",
    "work_per_s": "1/s",
    "space_amp": "ratio",
    "retained_heap_mb": "MB",
}
# end-to-end timings whose traced/untraced ratio is the tracing overhead,
# with the operation field each is the median of
OVERHEAD_OF = {"op_p50_ms": "ms", "write_p50_ms": "write_ms", "read_p50_ms": "read_ms"}

LAKE_KINDS = ("insert", "update", "delete", "merge", "select_point", "select_agg",
              "select_asof", "branch", "optimize", "expire", "orphans")
# graft.pipeline kernels timed over each traced stream_ingest wave
PIPELINE_STAGES = ("quality", "classify", "sketch", "index_probe", "lsh", "components",
                   "keep_best", "mix", "pack")
PER_LAYER = {
    "plan.analysis_ms": "ms", "plan.optimizer_ms": "ms", "plan.physical_ms": "ms",
    "plan.actions": "count",
    "exec.jobs": "count", "exec.tasks": "count", "exec.task_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B", "exec.busy_ms": "ms",
    "exec.gap_ms": "ms", "exec.core_util": "ratio",
    **{f"lake.execute_ms.{k}": "ms" for k in LAKE_KINDS},
    "lake.sql_bind_ms": "ms", "lake.meta_load_ms": "ms", "lake.live_fold_ms": "ms",
    "lake.prune_ms": "ms", "lake.snapshots": "count", "lake.manifests": "count",
    "lake.live_files": "count", "lake.delete_files": "count",
    "lake.prune_keep_ratio": "ratio", "lake.metadata_bytes": "B",
    "lake.write_amp": "ratio", "lake.rewrite_bytes": "B",
    "lake.files_expired": "count", "lake.orphans_removed": "count",
    "stream.door_ms": "ms", "stream.trigger_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.planning_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.start_stop_ms": "ms", "stream.batches": "count",
    "stream.input_rows": "count", "stream.admit_ratio": "ratio",
    "stream.index_rows": "count", "stream.maint_ms": "ms",
    **{f"pipeline.{k}_ms": "ms" for k in PIPELINE_STAGES},
    "pipeline.index_pairs": "count", "pipeline.dup_pairs": "count",
    "pipeline.clusters": "count", "pipeline.keep_ratio": "ratio",
    **{f"overhead.{m}": "ratio" for m in OVERHEAD_OF},
}


def percentile(xs, q):
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartile_spread(xs):
    """(Q3 - Q1) / median, with the quartiles of
    `statistics.quantiles(xs, n=4)`."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def _metric(value, unit):
    return {"value": float(value), "unit": unit}


def _data_ops(ops):
    """Operations that write or read user data (DML and SELECT statements,
    waves); maintenance and branch or tag statements are not among them,
    but their time counts against `work_per_s`."""
    return [o for o in ops if "write_ms" in o or "read_ms" in o]


def _e2e_values(ops):
    """End-to-end figures of one phase's operations."""
    data = _data_ops(ops)
    writes = [o["write_ms"] for o in ops if "write_ms" in o]
    reads = [o["read_ms"] for o in ops if "read_ms" in o]
    total_s = sum(o["ms"] for o in ops) / 1000.0
    return {
        "op_p50_ms": percentile([o["ms"] for o in data], 50),
        "write_p50_ms": percentile(writes, 50),
        "read_p50_ms": percentile(reads, 50),
        "work_per_s": sum(o["units"] for o in data) / total_s,
        "space_amp": percentile([o["space_amp"] for o in ops if "space_amp" in o], 50),
    }


def _timed(result):
    """The untraced operations the end-to-end metrics are taken over: the
    first `timed_steps` of them when the workload fixes that number."""
    ops = [o for o in result["ops"] if o["phase"] == "untraced"]
    return ops[:result["timed_steps"]] if result["timed_steps"] else ops


def end_to_end(result, gen_s):
    v = _e2e_values(_timed(result))
    # set-up: input generation, JVM and session start, the workload's
    # set-up, and warm-up until the first timed op
    v["setup_s"] = (gen_s + result["session_s"] + result["workload_setup_s"]
                    + result["warmup_s"])
    v["retained_heap_mb"] = result["retained_heap_mb"]
    return {k: _metric(v[k], u) for k, u in END_TO_END.items()}


def sample_counts(result):
    """Samples behind each timing percentile of the untraced phase."""
    ops = _timed(result)
    return {"op": len(_data_ops(ops)),
            "write": sum(1 for o in ops if "write_ms" in o),
            "read": sum(1 for o in ops if "read_ms" in o)}


# ------------------------------------------------------------ per layer

def _within(t, op):
    return op["start_ms"] <= t <= op["end_ms"]


def _union_ms(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _overhead(untraced, traced, field):
    """How much slower the traced half of a run is than the untraced half
    of the same process (positive = slower): the median over operation
    kinds of the ratio of the kind's medians. Comparing kind by kind
    keeps the two halves' different statement mixes out of the figure."""
    def by_kind(ops):
        out = {}
        for o in _data_ops(ops):
            if field in o:
                out.setdefault(o["kind"], []).append(o[field])
        return out
    a, b = by_kind(untraced), by_kind(traced)
    ratios = [statistics.median(b[k]) / statistics.median(a[k])
              for k in a.keys() & b.keys() if statistics.median(a[k]) > 0]
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def per_layer(result):
    ops = [o for o in result["ops"] if o["phase"] == "traced"]
    tr = result["trace"]
    spans = tr["spans"]
    traced_ids = {o["id"] for o in ops}
    spans = [s for s in spans if s["op"] in traced_ids]

    def span_ms(name):
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]

    def span_attr(name, key):
        return [s["attrs"][key] for s in spans if s["name"] == name and key in s["attrs"]]

    cores = result["parallelism"]
    m = {}
    # Catalyst and job execution, per operation
    per_op = []
    for o in ops:
        jobs = [(j["start_ms"], j["end_ms"]) for j in tr["jobs"] if _within(j["start_ms"], o)]
        tasks = [t for t in tr["tasks"] if _within(t["end_ms"], o)]
        plans = [p for p in tr["plans"] if _within(p["start_ms"], o)]
        clipped = [(max(a, o["start_ms"]), min(b, o["end_ms"])) for a, b in jobs]
        busy = _union_ms(clipped)
        task_ms = sum(t["run_ms"] for t in tasks)
        per_op.append({
            "plan.analysis_ms": sum(p["analysis_ms"] for p in plans),
            "plan.optimizer_ms": sum(p["optimizer_ms"] for p in plans),
            "plan.physical_ms": sum(p["physical_ms"] for p in plans),
            "plan.actions": len(plans),
            "exec.jobs": len(jobs), "exec.tasks": len(tasks), "exec.task_ms": task_ms,
            "exec.task_cpu_ms": sum(t["cpu_ms"] for t in tasks),
            "exec.gc_ms": sum(t["gc_ms"] for t in tasks),
            "exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "exec.spill_bytes": sum(t["spill"] for t in tasks),
            "exec.busy_ms": busy, "exec.gap_ms": max(0.0, o["ms"] - busy),
            "exec.core_util": task_ms / (o["ms"] * cores) if o["ms"] > 0 else 0.0,
        })
    for k in [k for k in PER_LAYER if k.startswith(("plan.", "exec."))]:
        m[k] = _mean([p[k] for p in per_op])

    # graft.lake
    for kind in LAKE_KINDS:
        m[f"lake.execute_ms.{kind}"] = _median([o["ms"] for o in ops if o["kind"] == kind])
    m["lake.sql_bind_ms"] = _median([o["bind_ms"] for o in ops if "bind_ms" in o])
    m["lake.meta_load_ms"] = _median(span_ms("lake.meta_load"))
    m["lake.live_fold_ms"] = _median(span_ms("lake.live_fold"))
    m["lake.prune_ms"] = _median(span_ms("lake.prune"))
    for k in ("snapshots", "manifests", "live_files", "delete_files",
              "prune_keep_ratio", "metadata_bytes"):
        m[f"lake.{k}"] = _mean(span_attr("lake.probe", k))
    probes = [s for s in spans if s["name"] == "lake.probe"]
    kind_of = {o["id"]: o["kind"] for o in ops}
    added = sum(s["attrs"]["added_bytes"] for s in probes)
    live = [s["attrs"]["live_bytes"] for s in probes]
    m["lake.write_amp"] = added / live[-1] if live and live[-1] > 0 else 0.0

    def by_kind(kind, key):
        return _mean([s["attrs"][key] for s in probes if kind_of.get(s["op"]) == kind])
    m["lake.rewrite_bytes"] = by_kind("optimize", "added_bytes") or by_kind("maint", "added_bytes")
    m["lake.files_expired"] = by_kind("expire", "removed_files") or by_kind("maint", "removed_files")
    m["lake.orphans_removed"] = by_kind("orphans", "removed_files")

    # graft.streaming (stream_ingest waves)
    waves = [o for o in ops if o["kind"] == "wave"]
    door = span_ms("stream.door")
    m["stream.door_ms"] = _median(door)
    per_wave = []
    for o in waves:
        bs = [b for b in tr["batches"] if _within(b["start_ms"], o)]
        d = [s for s in spans if s["name"] == "stream.door" and s["op"] == o["id"]]
        door_ms = (d[0]["end_ns"] - d[0]["start_ns"]) / 1e6 if d else 0.0
        trig = sum(b.get("d_triggerExecution", 0.0) for b in bs)
        per_wave.append({
            "stream.trigger_ms": trig,
            "stream.latest_offset_ms": sum(b.get("d_latestOffset", 0.0) for b in bs),
            "stream.planning_ms": sum(b.get("d_queryPlanning", 0.0) for b in bs),
            "stream.add_batch_ms": sum(b.get("d_addBatch", 0.0) for b in bs),
            "stream.wal_commit_ms": sum(b.get("d_walCommit", 0.0) for b in bs),
            "stream.commit_offsets_ms": sum(b.get("d_commitOffsets", 0.0) for b in bs),
            "stream.start_stop_ms": max(0.0, door_ms - trig),
            "stream.batches": sum(1 for b in bs if b["rows"] > 0),
            "stream.input_rows": sum(b["rows"] for b in bs),
        })
    for k in ("trigger_ms", "latest_offset_ms", "planning_ms", "add_batch_ms",
              "wal_commit_ms", "commit_offsets_ms", "start_stop_ms"):
        m[f"stream.{k}"] = _median([p[f"stream.{k}"] for p in per_wave])
    for k in ("batches", "input_rows"):
        m[f"stream.{k}"] = _mean([p[f"stream.{k}"] for p in per_wave])
    docs_in = sum(o.get("docs_in", 0) for o in waves)
    m["stream.admit_ratio"] = (sum(o.get("admitted", 0) for o in waves) / docs_in
                               if docs_in else 0.0)
    m["stream.index_rows"] = float(result["checks"].get("index_rows", 0))
    m["stream.maint_ms"] = _median(span_ms("stream.maint"))

    # graft.pipeline: probes run between operations, so every span counts
    all_spans = tr["spans"]
    for k in PIPELINE_STAGES:
        m[f"pipeline.{k}_ms"] = _median([(s["end_ns"] - s["start_ns"]) / 1e6
                                         for s in all_spans if s["name"] == f"pipeline.{k}"])
    for k in ("index_pairs", "dup_pairs", "clusters", "keep_ratio"):
        m[f"pipeline.{k}"] = _mean([s["attrs"][k] for s in all_spans
                                    if s["name"] == "pipeline.probe"])

    untraced = [o for o in result["ops"] if o["phase"] == "untraced"]
    for k, field in OVERHEAD_OF.items():
        m[f"overhead.{k}"] = _overhead(untraced, ops, field)
    return {k: _metric(m[k], u) for k, u in PER_LAYER.items()}
