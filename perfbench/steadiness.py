#!/usr/bin/env python3
"""Steadiness report: run each workload once per seed and print, per
end-to-end metric, the median, the quartiles and the spread (interquartile
distance over median) against the bound `BENCHMARK.json` gives it.

    python3 perfbench/steadiness.py --seeds 1-10
    python3 perfbench/steadiness.py --workloads curation --seeds 1-5 --traced 2
    python3 perfbench/steadiness.py --seeds 11-20 --compare .bench_out/steadiness-A.json

`--traced N` adds N traced runs per workload and reports the tracing
overhead: the median traced `trace.wall_s` minus the median untraced
`wall_s`. `--compare` checks each median against an earlier report: worse
by more than the bound fails, as it would between a parent commit and a
change. The report is also written as JSON (`--out`). Run from the
repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: rc={out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--compare")
    ap.add_argument("--out", default=os.path.join(".bench_out", f"steadiness-{int(time.time())}.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    before = json.load(open(a.compare))["workloads"] if a.compare else {}
    report, bad = {"seeds": a.seeds, "workloads": {}}, []
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            r = one_run(w, s, bench["run_seconds"], 0)
            runs.append(r)
            print(f"{w} seed {s}: {time.time() - t0:.0f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", file=sys.stderr)
        rep = {"runs": runs, "metrics": {}}
        print(f"\n{w}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}")
        print(f"  {'metric':20s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} "
              f"{'bound':>6s} {'bound/3':>7s}")
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            sp = metrics.spread(vals)
            rep["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                                    "bound": m["bound"], "values": vals}
            flag = "" if sp <= m["bound"] / 3 else (" over bound/3" if sp <= m["bound"] else " OVER BOUND")
            if name != "setup_s" and sp > m["bound"]:
                bad.append(f"{w} {name} spread {sp:.3f} > {m['bound']}")
            prev = before.get(w, {}).get("metrics", {}).get(name)
            if prev:
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (med - prev["median"]) / prev["median"]
                flag += f"  vs earlier median {prev['median']:.4g}: {worse:+.1%}"
                if worse > m["bound"]:
                    bad.append(f"{w} {name} median worse by {worse:.1%} > {m['bound']}")
            print(f"  {name:20s} {med:10.4g} {q1:10.4g} {q3:10.4g} {sp:7.3f} {m['bound']:6.2f} "
                  f"{m['bound'] / 3:7.3f}{flag}")
        if a.traced:
            traced = [one_run(w, s, bench["run_seconds"], 1) for s in seeds(a.seeds)[:a.traced]]
            tw = statistics.median(r["metrics"]["trace.wall_s"]["value"] for r in traced)
            uw = rep["metrics"]["wall_s"]["median"]
            rep["traced"] = traced
            rep["trace_overhead_s"] = tw - uw
            print(f"  tracing overhead: traced wall {tw:.3f}s - untraced wall {uw:.3f}s "
                  f"= {tw - uw:+.3f}s ({(tw - uw) / uw:+.1%})")
        report["workloads"][w] = rep
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    json.dump(report, open(a.out, "w"), indent=1)
    print(f"\nreport: {a.out}")
    for b in bad:
        print("NOT STEADY:", b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
