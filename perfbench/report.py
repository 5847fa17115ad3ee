#!/usr/bin/env python3
"""Trace-to-layer report: turns a traced pass's spans into per-layer metrics
and prints each layer's self time.

Usage: python3 perfbench/report.py .bench_build/perfbench/last/<workload>.spans.jsonl
       [.bench_build/perfbench/last/<workload>.trace1.record.json]

Span kinds (written by perfbench.Tracer): op (one per op), job and stage
(named by the op's local property), qe (one per query execution, assigned
to the op whose interval holds its first phase), etl (stack-sampled time
per pipeline stage of an ETL op). A layer's self time is its time minus
the part its child layers cover.
"""
import json
import statistics
import sys

FAMILIES = ["dedup", "prefixjoin", "similarity", "graph", "bpe"]
ETL_STAGES = ["backup", "read", "infer", "write", "swap", "history", "count"]

PER_LAYER = (
    [("entry.build_s", "s"), ("entry.build_jobs", "count"),
     ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"), ("catalyst.queries", "count"),
     ("plan.exchanges", "count"), ("plan.broadcasts", "count"), ("plan.smj", "count"),
     ("plan.bhj", "count"),
     ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
     ("sched.task_retries", "count"), ("sched.job_wall_s", "s"), ("sched.driver_gap_s", "s"),
     ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.slot_util", "ratio"),
     ("exec.stage_skew", "ratio"), ("exec.result_bytes", "B"),
     ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"), ("shuffle.fetch_wait_s", "s"),
     ("shuffle.spill_bytes", "B"), ("scan.bytes_read", "B"), ("scan.records_read", "count")]
    + [(f"family.{f}_s", "s") for f in FAMILIES]
    + [("kernel.dot_f32_ns_per_elem", "ns"), ("kernel.dot_i8_ns_per_elem", "ns"),
       ("kernel.simd_active", "bool")]
    + [(f"etl.{s}_s", "s") for s in ETL_STAGES]
    + [("etl.rows_loaded", "count"), ("etl.bytes_written", "B"), ("etl.write_amp", "ratio"),
       ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("trace.overhead_s", "s")])


def pass_sum(p, key):
    """A pass's total of one per-op field (wall_s, cpu_s, gc_s)."""
    return sum(o[key] for o in p["ops"])


def load(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def union_s(intervals):
    """Seconds covered by the union of [start_ms, end_ms] intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def by_op(spans):
    """Spans grouped under their op; qe spans placed by their start time."""
    ops = {s["id"]: {"op": s, "job": [], "stage": [], "qe": [], "etl": []}
           for s in spans if s["kind"] == "op"}
    windows = sorted((s["start_ms"], s["end_ms"], s["id"]) for s in spans if s["kind"] == "op")
    for s in spans:
        if s["kind"] in ("job", "stage", "etl") and s["op"] in ops:
            ops[s["op"]][s["kind"]].append(s)
        elif s["kind"] == "qe":
            for lo, hi, oid in windows:
                if lo <= s["start_ms"] <= hi:
                    ops[oid]["qe"].append(s)
                    break
    return ops


def per_layer(record, spans, workloads, workload):
    ops = by_op(spans)
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    n_pass = max(1, len(traced))
    m = {k: 0.0 for k, _ in PER_LAYER}

    def add(k, v):
        m[k] += v / n_pass

    skews = []
    for o in ops.values():
        op, jobs, stages, qes = o["op"], o["job"], o["stage"], o["qe"]
        add("entry.build_s", op["build_s"])
        add("entry.build_jobs", sum(1 for j in jobs if j["phase"] == "build"))
        for k in ("analysis_s", "optimization_s", "planning_s"):
            add("catalyst." + k, sum(q[k] for q in qes))
        add("catalyst.queries", len(qes))
        for k in ("exchanges", "broadcasts", "smj", "bhj"):
            add("plan." + k, sum(q[k] for q in qes))
        job_wall = union_s([(j["start_ms"], j["end_ms"]) for j in jobs])
        add("sched.jobs", len(jobs))
        add("sched.stages", len(stages))
        add("sched.tasks", sum(s["tasks"] for s in stages))
        add("sched.task_retries", sum(s["retries"] for s in stages))
        add("sched.job_wall_s", job_wall)
        add("sched.driver_gap_s", max(0.0, op["wall_s"] - job_wall))
        for k, src in (("exec.run_s", "run_s"), ("exec.cpu_s", "cpu_s"), ("exec.gc_s", "gc_s"),
                       ("exec.result_bytes", "result_bytes"),
                       ("shuffle.write_bytes", "shuffle_write_bytes"),
                       ("shuffle.read_bytes", "shuffle_read_bytes"),
                       ("shuffle.fetch_wait_s", "fetch_wait_s"),
                       ("shuffle.spill_bytes", "spill_bytes"),
                       ("scan.bytes_read", "scan_bytes"), ("scan.records_read", "scan_records")):
            add(k, sum(s[src] for s in stages))
        if stages:
            skews.append(max(s["skew"] for s in stages))
        for f in workloads.get("corpus_ops", {}).get(op["name"], []) \
                if workload == "corpus_ops" else []:
            add(f"family.{f}_s", op["wall_s"])
        for e in o["etl"]:
            if e["stage"] in ETL_STAGES:
                add(f"etl.{e['stage']}_s", e["seconds"])
    job_wall = m["sched.job_wall_s"]
    m["exec.slot_util"] = m["exec.run_s"] / (record["cpus"] * job_wall) if job_wall else 0.0
    m["exec.stage_skew"] = statistics.median(skews) if skews else 0.0
    for k, v in record.get("kernels", {}).items():
        if f"kernel.{k}" in m:
            m[f"kernel.{k}"] = float(v)
    if workload == "daily_etl":
        m["etl.rows_loaded"] = statistics.median(p["rows_loaded"] for p in traced)
        m["etl.bytes_written"] = statistics.median(p["bytes_written"] for p in traced)
        m["etl.write_amp"] = statistics.median(p["write_amp"] for p in traced)
    m["jvm.gc_s"] = statistics.median(pass_sum(p, "gc_s") for p in traced)
    # JIT CPU from the untraced passes, which the tracer's threads do not add to.
    m["jvm.jit_s"] = statistics.median(pass_sum(p, "jit_s") for p in untraced)
    m["trace.overhead_s"] = (statistics.median(pass_sum(p, "wall_s") for p in traced) -
                             statistics.median(pass_sum(p, "wall_s") for p in untraced))
    units = dict(PER_LAYER)
    return {k: {"value": m[k], "unit": units[k]} for k, _ in PER_LAYER}


def self_times(spans):
    """(layer, total_s, child_s) rows summed over the traced ops."""
    rows = {}

    def put(layer, total, child):
        t, c = rows.get(layer, (0.0, 0.0))
        rows[layer] = (t + total, c + child)

    for o in by_op(spans).values():
        op, jobs, stages, qes = o["op"], o["job"], o["stage"], o["qe"]
        build_end = op["start_ms"] + op["build_s"] * 1e3
        put("op", op["wall_s"], op["build_s"] + op["run_s"])
        for phase, lo, hi, secs in (("build", op["start_ms"], build_end, op["build_s"]),
                                    ("materialize", build_end, op["end_ms"], op["run_s"])):
            q = sum(x["analysis_s"] + x["optimization_s"] + x["planning_s"]
                    for x in qes if (x["start_ms"] < build_end) == (phase == "build"))
            j = union_s([(x["start_ms"], x["end_ms"]) for x in jobs
                         if x["phase"] == ("build" if phase == "build" else "run")])
            put(f"entry.{phase}", secs, q + j)
            put("catalyst", q, 0.0)
        job_wall = union_s([(x["start_ms"], x["end_ms"]) for x in jobs])
        stage_wall = union_s([(x["start_ms"], x["end_ms"]) for x in stages if x["start_ms"]])
        put("sched.jobs", job_wall, stage_wall)
        put("exec.stages", stage_wall, 0.0)
        for e in o["etl"]:
            put(f"etl.{e['stage']}", e["seconds"], 0.0)
    return rows


def print_self_times(record, spans, workload, out):
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    tb = statistics.median(pass_sum(p, "wall_s") for p in traced)
    ub = statistics.median(pass_sum(p, "wall_s") for p in untraced)
    print(f"perfbench trace report: workload {workload}, {len(traced)} traced pass(es)", file=out)
    print(f"  {'layer':<22}{'total_s':>10}{'child_s':>10}{'self_s':>10}", file=out)
    for layer, (t, c) in sorted(self_times(spans).items()):
        print(f"  {layer:<22}{t:>10.3f}{c:>10.3f}{t - c:>10.3f}", file=out)
    print(f"  tracing overhead: traced batch_s {tb:.3f} - untraced batch_s {ub:.3f} "
          f"= {tb - ub:+.3f} s", file=out)


if __name__ == "__main__":
    spans = load(sys.argv[1])
    if len(sys.argv) > 2:
        with open(sys.argv[2]) as f:
            print_self_times(json.load(f), spans, "(from file)", sys.stdout)
    else:
        for layer, (t, c) in sorted(self_times(spans).items()):
            print(f"{layer:<22}{t:>10.3f}{c:>10.3f}{t - c:>10.3f}")
