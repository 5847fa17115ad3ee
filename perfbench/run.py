#!/usr/bin/env python3
"""Repository benchmark: closed loop, one client thread, one JVM at local[N].

Usage (from the repository root):
  python3 perfbench/run.py --workload {sql_short,corpus_ops,daily_etl}
                           --seed N --seconds S --trace {0,1}

Builds the engine and the benchmark from source into .bench_build/ (once per
source state), runs perfbench.Main, checks every op's output, and prints one
JSON line as the last line of stdout. --trace 0 reports the end-to-end
metrics from untraced passes; --trace 1 reports the per-layer metrics of
a traced pass and prints the per-layer self-time report to stderr. The
line before the result records host noise (CPU calibration, load average).
See perfbench/README.md for every metric.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import extracts
import report

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The repository's normalized result hash, shared with its DuckDB oracle check.
sys.path.insert(0, os.path.join(ROOT, "tools"))
try:
    from oracle_check import norm_lines, table_hash
except ImportError as e:
    sys.exit(f"perfbench: {e}; run from the repository root")

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
# Task slots. Two leave the driver, JIT and GC threads room on a small
# shared host, whose capacity for four busy threads swings from minute to
# minute; at four slots the corpus_ops runs spread wider (see README.md).
CPUS = max(1, min(2, os.cpu_count() or 1))
RUN_LIMIT_S = 170
WORKLOADS = ("sql_short", "corpus_ops", "daily_etl")
# Untimed sequential passes before the timed ones: enough for the passes of
# a run to agree, few enough that a run fits its time.
WARM_UP = {"sql_short": 4, "corpus_ops": 2, "daily_etl": 4}

END_TO_END = [("setup_s", "s"), ("batch_s", "s"), ("op_p50_s", "s"), ("op_geomean_s", "s"),
              ("cpu_s", "s"), ("heap_live_peak_mb", "MB")]

# JVM flags Spark needs outside spark-submit on JDK 17, as in the sbt build.
# Every JVM runs with -XX:-UsePerfData, which keeps it from writing to /tmp.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    java = sorted(glob.glob(os.path.join(main, "java", "**", "*.java"), recursive=True))
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return java, scala


def build(jars):
    """Compile engine + benchmark once per source state; return the classes dir."""
    java, scala = sources()
    h = hashlib.sha256()
    for p in java + scala:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if ".tmp" not in old:  # another run's build in progress
            shutil.rmtree(old, ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = f"{tmp}{os.pathsep}{os.path.join(jars, '*')}"
    steps = []
    if java:
        steps.append(["javac", "-J-XX:-UsePerfData", "--add-modules", "jdk.incubator.vector", "-encoding", "UTF-8",
                      "-nowarn", "-d", tmp] + java)
    steps.append(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                  "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + scala)
    t0 = time.time()
    for cmd in steps:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            fail(f"build failed: {cmd[0]}")
    os.rename(tmp, out)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_java(classes, jars, work, main, args, deadline):
    """Run a main class of the build; return its output, which goes to a log."""
    # The parallel collector has no concurrent threads, and with as many GC
    # workers as task slots a collection does not take every core of a small
    # host at once. Under G1 the concurrent marking thread alone used from
    # 2.5 to 10 s of CPU over three corpus_ops passes, varying by process.
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "--add-modules=jdk.incubator.vector", "-Xmx3g", "-XX:-UsePerfData",
        "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={CPUS}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", main] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log) as lf:
        text = lf.read()
    if code != 0:
        sys.stderr.write(text[-6000:])
        fail(f"{main} failed ({code})")
    return text


def run_main(classes, jars, work, args, deadline):
    """Run perfbench.Main; return its run record."""
    out = os.path.join(work, "record.json")
    text = run_java(classes, jars, work, "perfbench.Main",
                    [f"cpus={CPUS}", f"work={work}", f"out={out}"] +
                    [f"{k}={v}" for k, v in args.items()], deadline)
    sys.stderr.write("".join(ln for ln in text.splitlines(True) if ln.startswith("perfbench:")))
    with open(out) as f:
        return json.load(f)


# ---- output checks --------------------------------------------------------

def parquet_result(d):
    """Row count and tools/oracle_check.py's normalized hash of a parquet dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return 0, table_hash([])
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    rows = [[r[c] for c in tbl.column_names] for r in tbl.to_pylist()]
    return len(rows), table_hash(norm_lines(tbl.column_names, rows))


def check_queries(record, expected):
    """Names of ops whose output differs from expected.json."""
    bad = {}
    for c in record["check"]:
        op = c["op"]
        if not c["ok"]:
            continue
        rows, digest = parquet_result(c["dir"])
        exp = expected.get(op)
        if exp is None:
            bad[op] = "no expected output"
        elif rows != exp["rows"]:
            bad[op] = f"rows {rows} != expected {exp['rows']}"
        elif "hash" in exp and digest != exp["hash"]:
            bad[op] = "normalized hash differs from the DuckDB oracle"
    return bad


def check_etl(record, intent):
    """Names of ops whose table differs from the generator's intent after
    the check pass: day-2 rows and schema, and a history table holding both
    days with a load_time column."""
    bad = {}
    tables = {t["table"]: t for t in record["check"][-1]["tables"]}
    for name, want in intent.items():
        cols = [list(x) for x in want["columns"]]
        got, hist = tables.get(name), tables.get(name + "_history")
        if got is None or hist is None:
            why = "table or history table missing"
        elif got["rows"] != want["rows"][1]:
            why = f"rows {got['rows']} != intended {want['rows'][1]}"
        elif [list(x) for x in got["schema"]] != cols:
            why = f"schema {got['schema']} != intended {cols}"
        elif hist["rows"] != sum(want["rows"]):
            why = f"history rows {hist['rows']} != intended {sum(want['rows'])}"
        elif [list(x) for x in hist["schema"]] != cols + [["load_time", "timestamp"]]:
            why = f"history schema {hist['schema']}"
        else:
            continue
        bad[f"day1/{name}"] = bad[f"day2/{name}"] = why
    return bad


# ---- metrics --------------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def end_to_end(record, bad):
    passes = [p for p in record["passes"] if not p["traced"]]
    per_op = {}
    for p in passes:
        for o in p["ops"]:
            if o["ok"] and o["name"] not in bad:
                per_op.setdefault(o["name"], []).append(o["wall_s"])
    times = [median(v) for v in per_op.values()]
    if not times:
        fail("every op failed")
    return {
        "setup_s": record["setup_s"],
        "batch_s": median([report.pass_sum(p, "wall_s") for p in passes]),
        "op_p50_s": median(times),
        "op_geomean_s": math.exp(sum(math.log(t) for t in times) / len(times)),
        "cpu_s": median([report.pass_sum(p, "cpu_s") for p in passes]),
        "heap_live_peak_mb": median([max(o["live_mb"] for o in p["ops"]) for p in passes]),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A stop request must still stop the JVM and remove the work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes = build(jars)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    last = os.path.join(BUILD, "last")
    os.makedirs(last, exist_ok=True)
    try:
        with open(os.path.join(HERE, "workloads.json")) as f:
            workloads = json.load(f)
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "warmup": WARM_UP[a.workload], "data": DATA, "spans": os.path.join(work, "spans.jsonl")}
        if a.workload == "daily_etl":
            intent = extracts.write(os.path.join(work, "extracts"), a.seed)
            args["extracts"] = os.path.join(work, "extracts")
        else:
            args["ops"] = ",".join(workloads[a.workload])
        record = run_main(classes, jars, work, args, deadline)
        if a.workload == "daily_etl":
            bad = check_etl(record, intent)
        else:
            with open(os.path.join(HERE, "expected.json")) as f:
                bad = check_queries(record, json.load(f))
        for c in record["check"]:
            if "op" in c and not c["ok"]:
                bad[c["op"]] = c["error"]
        for op, why in sorted(bad.items()):
            print(f"perfbench: {op} failed its check: {why}", file=sys.stderr)
        shutil.copy(os.path.join(work, "record.json"),
                    os.path.join(last, f"{a.workload}.trace{a.trace}.record.json"))

        measured = [o for p in record["passes"] if not p["traced"] for o in p["ops"]]
        if a.trace:
            spans = report.load(args["spans"])
            shutil.copy(args["spans"], os.path.join(last, f"{a.workload}.spans.jsonl"))
            metrics = report.per_layer(record, spans, workloads, a.workload)
            report.print_self_times(record, spans, a.workload, sys.stderr)
            measured = [o for p in record["passes"] if p["traced"] for o in p["ops"]]
        else:
            values = end_to_end(record, bad)
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        failed = sum(1 for o in measured if not o["ok"] or o["name"] in bad)
        host = {"calibration_before_s": record["calibration_before"],
                "calibration_after_s": record["calibration_after"],
                "loadavg_before": record["loadavg_before"],
                "loadavg_after": record["loadavg_after"], "cpus": record["cpus"],
                "passes": len(record["passes"])}
        print(json.dumps({"host": host}))
        print(json.dumps({"correct": not bad and failed == 0, "attempted": len(measured),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
