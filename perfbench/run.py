#!/usr/bin/env python3
"""Seeded benchmark of the judged query rows, one workload per run.

    python3 perfbench/run.py --workload olap_short --seed 1 --seconds 20 --trace 0

Run from the repository root. The run

1. compiles `src/main/scala` together with the harness in `perfbench/scala`
   into `.bench_build/` (once per source state; scalac from the Spark jars
   the build uses, so no sbt);
2. starts one JVM (`graft.perfbench.Harness`) on the fixed sf0.1 tables in
   `perfbench/data`, which sets up, then times whole passes of the
   workload's rows until `--seconds` have elapsed;
3. checks every timed query row's result fingerprint against
   `perfbench/goldens.json`;
4. prints one JSON line: the end-to-end metrics (`--trace 0`) or the
   per-layer metrics of a traced run (`--trace 1`).

The seed only permutes the row order. The full record, the spans of a
traced run and the JVM log land in `.bench_out/`.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

HEAP = "4g"
RUN_LIMIT_S = 170           # the whole run, build excluded
SETUPS = 3

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory the build compiles against: $SPARK_HOME/jars, else
    build.sbt's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        fail("no build.sbt: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
    return m.group(1)


def build(root, jars):
    """Compile the program and the harness once per source state."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no src/main/scala sources: run from the repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    out = os.path.join(root, ".bench_build", "perfbench-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar"))
    if not compiler:
        fail(f"no scala-compiler jar in {jars}")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    with open(os.path.join(root, ".bench_build", "compile.log"), "w") as log:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", tmp, "-classpath", cp] + srcs, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"compile failed (rc={rc}), see .bench_build/compile.log")
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def java_cmd(classes, jars, tmpdir, main_and_args):
    """The JVM command for a main class of the build: fixed heap, temporary
    files (staged intermediates, Derby's log) under `tmpdir`."""
    # -UsePerfData: no hsperfdata file in the system temp directory
    return (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
             "-Dderby.stream.error.file=" + os.path.join(tmpdir, "derby.log")]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}"] + main_and_args)


def run_jvm(cmd, cwd, log_path, record_path, limit_s):
    """Run the harness JVM, killing it past `limit_s`; return its record."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd)
        try:
            rc = proc.wait(timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            fail(f"JVM over the {RUN_LIMIT_S}s run limit, see {log_path}")
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.isfile(record_path):
        fail(f"JVM failed (rc={rc}), see {log_path}")
    return json.load(open(record_path))


def commit(root, classes):
    """HEAD's id when the checkout is a git repository, else the digest of
    the sources the build compiled (the build directory's name)."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return os.path.basename(classes)


def wrong_rows(record, goldens):
    """Query rows whose timed result differs from its golden fingerprint."""
    bad = {}
    for r in record["rows"]:
        if r["kind"] != "query" or r["error"]:
            continue
        want = goldens.get(r["name"])
        if r["fingerprint"] != want:
            bad[r["name"]] = f"fingerprint {r['fingerprint']} != golden {want}"
    return bad


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    data = os.path.join(HERE, "data")
    if not os.path.isdir(os.path.join(data, "sf0.1")):
        fail("no perfbench/data/sf0.1 tables")
    jars = spark_jars(root)
    classes = build(root, jars)

    t_start = time.time()
    rows = list(w["rows"])
    random.Random(a.seed).shuffle(rows)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    outdir = os.path.join(root, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    plan = {
        "sf": os.path.join(data, "sf0.1"),
        "cores": min(4, os.cpu_count() or 1), "seconds": a.seconds, "trace": a.trace,
        "setups": SETUPS, "stages": ",".join(w["stages"]),
        "scaffold": ",".join(w.get("scaffold", [])), "rows": ",".join(rows),
        "warehouse": os.path.join(work, "warehouse"),
        "out": os.path.join(work, "record.json"),
    }
    plan_path = os.path.join(work, "plan.txt")
    log_path = os.path.join(outdir, f"{tag}.log")
    plan["launch_ms"] = time.time() * 1000
    with open(plan_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in plan.items())
    cmd = java_cmd(classes, jars, os.path.join(work, "tmp"),
                   ["graft.perfbench.Harness", plan_path])
    try:
        record = run_jvm(cmd, work, log_path, plan["out"],
                         RUN_LIMIT_S - (time.time() - t_start))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    goldens = json.load(open(os.path.join(HERE, "goldens.json")))["fingerprints"]
    bad = wrong_rows(record, goldens)
    timed = record["rows"]
    threw = [r for r in timed if r["error"]]
    failed = sum(1 for r in timed if r["error"] or r["name"] in bad)
    e2e, tail_info = metrics.end_to_end(record)
    record["stamp"] = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit(root, classes), "heap": HEAP,
        "setups": SETUPS, "row_order": rows, "stages": w["stages"],
        "scaffold": w.get("scaffold", []), **record["env"]}
    record["end_to_end"] = {**e2e, **tail_info, "failed_frac": failed / len(timed)}
    record["failures"] = {"threw": {r["name"]: r["error"] for r in threw}, "wrong": bad}
    absorbed = sorted({r["name"] for r in timed if r["absorbed_stages"]})
    if absorbed:
        record["absorbed_stage_builds"] = absorbed
    if a.trace:
        layer, tree = metrics.per_layer(record)
        record["per_layer"] = layer
        json.dump(tree, open(os.path.join(outdir, f"spans-{tag}.json"), "w"))
    declared = bench["per_layer" if a.trace else "end_to_end"]
    measured = record["per_layer"] if a.trace else e2e
    json.dump(record, open(os.path.join(outdir, f"record-{tag}.json"), "w"), indent=1)

    for n, why in sorted(bad.items()):
        print(f"perfbench: {n} wrong: {why}", file=sys.stderr)
    for r in threw:
        print(f"perfbench: {r['name']} threw: {r['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(timed), "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in declared}}))


if __name__ == "__main__":
    main()
