#!/usr/bin/env python3
"""Capture `perfbench/goldens.json`: the result fingerprints the benchmark
checks every timed row against.

    python3 perfbench/capture_goldens.py

Run from the repository root. For every query row of every workload it
dumps the result at sf0.1 with `graft.Verify`, requires the DuckDB oracle
(`tools/check.py`) to accept each dump, and fingerprints the accepted dumps
(`graft.perfbench.Goldens`). Goldens are captured once, at the commit that
defines them; a row whose result changes on purpose needs them re-captured.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    rows = sorted({r for w in spec.values() for r in w["rows"]})
    jars = run.spark_jars(root)
    classes = run.build(root, jars)
    work = os.path.join(root, ".bench_work", "goldens")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sf = os.path.join(HERE, "data", "sf0.1")
    dumps = os.path.join(work, "verify")
    java = lambda main: run.java_cmd(classes, jars, os.path.join(work, "tmp"), main)
    subprocess.run(java(["graft.Verify", sf, dumps] + rows), cwd=work, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    report = os.path.join(work, "oracle.json")
    subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), sf, dumps]
                   + rows + ["--json", report], check=True)
    oracle = json.load(open(report))
    fps = subprocess.run(java(["graft.perfbench.Goldens", dumps] + rows), cwd=work,
                         check=True, capture_output=True, text=True).stdout
    fingerprints = dict(l.split("\t") for l in fps.splitlines() if "\t" in l)
    assert sorted(fingerprints) == rows, "a dump was not fingerprinted"
    commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                            text=True).stdout.strip()
    json.dump({
        "commit": commit, "data": "perfbench/data/sf0.1",
        "oracle": {"check": "tools/check.py", "result": oracle["result"],
                   "rows": {n: q["spark_rows"] for n, q in sorted(oracle["queries"].items())}},
        "fingerprints": fingerprints,
    }, open(os.path.join(HERE, "goldens.json"), "w"), indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(f"goldens for {len(rows)} rows at {commit}")


if __name__ == "__main__":
    main()
