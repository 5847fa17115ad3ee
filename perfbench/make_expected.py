#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the output check of the query workloads.

Usage: python3 perfbench/make_expected.py   (from the repo root; needs duckdb)

Runs graft.Verify from the benchmark's build over perfbench/data for every
query in workloads.json, then runs each query's SparkEntry.oracleSql (the
oracle_sql.json Verify writes) in DuckDB. A query with oracle SQL expects
DuckDB's row count and normalized hash; one without expects the row count
the engine returns here. A query whose Spark output already disagrees with
DuckDB is reported and keeps DuckDB's answer.
"""
import json
import os
import shutil
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    with open(os.path.join(HERE, "workloads.json")) as f:
        w = json.load(f)
    ops = list(w["sql_short"]) + list(w["corpus_ops"])
    jars = run.spark_jars()
    classes = run.build(jars)
    work = os.path.join(run.BUILD, "expected")
    out = os.path.join(work, "verify")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    run.run_java(classes, jars, work, "graft.Verify", [run.DATA, out] + ops, time.time() + 1800)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in os.listdir(run.DATA):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{run.DATA}/{t}')")
    expected, diverged = {}, []
    for op in ops:
        if not os.path.isdir(os.path.join(out, op)):
            sys.exit(f"{op} failed in graft.Verify")
        rows, digest = run.parquet_result(os.path.join(out, op))
        if op in oracle:
            res = con.execute(oracle[op])
            cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            expected[op] = {"rows": len(o_rows),
                            "hash": run.table_hash(run.norm_lines(cols, o_rows))}
            if expected[op] != {"rows": rows, "hash": digest}:
                diverged.append(op)
        else:
            expected[op] = {"rows": rows}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(expected)} queries, {sum('hash' in e for e in expected.values())} "
          f"with a DuckDB hash; diverging from DuckDB: {diverged or 'none'}")


if __name__ == "__main__":
    main()
