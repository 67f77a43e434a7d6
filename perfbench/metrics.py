"""Metric math for the benchmark: end-to-end figures from a run record,
spans and per-layer figures from a traced run's listener events. Pure
functions over plain data, so `tests/test_metrics.py` checks them without a
JVM."""
import math
import statistics

MB = 1048576.0

# ---------------------------------------------------------------- percentiles

def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Sorted ascending, the value at 1-based rank n - beyond leaves exactly
    `beyond` samples after it. Returns (value, percentile, n). With too few
    samples for that, the median stands in and says so by its percentile."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - beyond
    if rank < 1:
        return statistics.median(xs), 50.0, n
    return xs[rank - 1], 100.0 * rank / n, n


def spread(values):
    """Interquartile distance as a share of the median, the steadiness
    figure `BENCHMARK.json` bounds."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf

# ---------------------------------------------------------------- intervals

def union_length(intervals):
    """Total length covered by possibly overlapping [t0, t1] intervals."""
    total, end = 0.0, -math.inf
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def self_time(span, children):
    """A span's duration that none of its children covers; overlapping
    children count once, and the parts of a child outside the span not at
    all."""
    t0, t1 = span
    clipped = [(max(a, t0), min(b, t1)) for a, b in children if b > t0 and a < t1]
    return (t1 - t0) - union_length(clipped)


def busy_frac(task_ms, wall_ms, cores):
    """Task time over the slots available: wall time times k."""
    return task_ms / (wall_ms * cores) if wall_ms > 0 and cores > 0 else 0.0

# ---------------------------------------------------------------- end to end

def pass_wall_ms(p):
    """A pass's wall time without the heap settling done for the row-boundary
    heap readings, a cost of measuring rather than of the rows."""
    return p["t1"] - p["t0"] - p.get("settle_ms", 0.0)


def end_to_end(record):
    """End-to-end metrics of one run record, and the latency figures the
    record keeps beside them (`BENCHMARK.json` does not bound these: with
    one pass a run holds a dozen or so row latencies, too few for a steady
    median)."""
    rows, passes = record["rows"], record["passes"]
    lat = [(r["t1"] - r["t0"]) / 1000 for r in rows]
    tail_s, tail_pct, n = tail(lat)
    return {
        "setup_s": statistics.median(record["setups_s"]),
        "wall_s": statistics.median(pass_wall_ms(p) / 1000 for p in passes),
        "heap_live_peak_mb": max(r["heap_mb"] for r in rows),
    }, {"cpu_s": statistics.median(p["cpu_s"] for p in passes), "query_p50_s": statistics.median(lat), "query_tail_s": tail_s,
        "query_tail_pct": tail_pct, "query_samples": n, "passes": len(passes)}

# ---------------------------------------------------------------- traced run

FAMILIES = ("dd", "sim", "tx", "emb", "mm")


def _row_of(t, rows):
    for r in rows:
        if r["t0"] <= t <= r["t1"]:
            return r
    return None


def _phases(record, rows):
    """Planning phases inside the traced rows: those of every execution a
    listener saw, plus the analysis of each row's returned DataFrame, which
    happens as it is built and reaches no listener."""
    out = [dict(ph, census=q["census"] if i == 0 else {})
           for q in record["trace"]["qe"] for i, ph in enumerate(q["phases"])]
    out += [{"phase": "analysis", "t0": r["analysis"][0], "t1": r["analysis"][1], "census": {}}
            for r in rows if r.get("analysis")]
    return [ph for ph in out if _row_of(ph["t0"], rows) is not None]


def spans(record):
    """Span tree of the traced passes: row > construct | action > job > stage,
    plus the row's query-execution phases and micro-batches. Each span is a
    dict with kind, name, t0, t1 (epoch ms) and children."""
    tr = record["trace"]
    rows = [r for r in record["rows"] if r["traced"]]
    ends = {j["job"]: j for j in tr["job_ends"]}
    stage_ev = {}
    for s in tr["stages"]:
        if s["t0"] is not None and s["t1"] is not None:
            stage_ev.setdefault(s["stage"], []).append(s)
    by_group = {f"perfbench/{r['pass']}/{r['name']}": r for r in rows}
    tree = []
    for r in rows:
        node = {"kind": "row", "name": r["name"], "t0": r["t0"], "t1": r["t1"], "children": []}
        node["children"] += [
            {"kind": "construct", "name": r["name"], "t0": r["construct"][0],
             "t1": r["construct"][1], "children": []},
            {"kind": "action", "name": r["name"], "t0": r["action"][0],
             "t1": r["action"][1], "children": []}]
        r["_node"] = node
        tree.append(node)
    seen_stages = set()
    for j in sorted(tr["jobs"], key=lambda j: j["t0"]):
        r = by_group.get(j["group"]) or _row_of(j["t0"], rows)
        if r is None or j["job"] not in ends:
            continue
        job = {"kind": "job", "name": str(j["job"]), "t0": j["t0"],
               "t1": ends[j["job"]]["t1"], "children": []}
        for sid in j["stages"]:
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            for s in stage_ev.get(sid, []):
                job["children"].append({"kind": "stage", "name": f"{sid}.{s['attempt']}",
                                        "t0": s["t0"], "t1": s["t1"], "children": [],
                                        "stage": sid, "attempt": s["attempt"]})
        construct, action = r["_node"]["children"][:2]
        parent = construct if j["t0"] < construct["t1"] else action
        parent["children"].append(job)
    for ph in _phases(record, rows):
        r = _row_of(ph["t0"], rows)
        r["_node"]["children"].append(
            {"kind": "qe", "name": ph["phase"], "t0": ph["t0"], "t1": ph["t1"], "children": []})
    for b in tr["progress"]:
        r = _row_of(b["t"], rows)
        if r is not None:
            r["_node"]["children"].append(
                {"kind": "batch", "name": f"{b['run'][:8]}/{b['batch']}", "t0": b["t"],
                 "t1": b["t"] + b["batch_ms"], "children": []})
    for r in rows:
        r.pop("_node", None)
    return tree


def _walk(nodes):
    for n in nodes:
        yield n
        yield from _walk(n["children"])


def self_times(tree):
    """Summed self time per span kind, in seconds."""
    out = {}
    for n in _walk(tree):
        st = self_time((n["t0"], n["t1"]), [(c["t0"], c["t1"]) for c in n["children"]])
        out[n["kind"]] = out.get(n["kind"], 0.0) + st / 1000
    return out


def per_layer(record):
    """Per-layer metrics of the traced passes, averaged per pass."""
    tr = record["trace"]
    k = record["env"]["k"]
    traced = [p for p in record["passes"] if p["traced"]]
    npass = len(traced)
    rows = [r for r in record["rows"] if r["traced"]]
    tree = spans(record)
    m = {}
    per = lambda v: v / npass

    jobs = [n for n in _walk(tree) if n["kind"] == "job"]
    row_of_job = {}
    for row in tree:
        for n in _walk(row["children"]):
            if n["kind"] == "job":
                row_of_job[n["name"]] = row["name"]
    stage_jobs = {n["name"] for n in jobs if row_of_job[n["name"]].startswith("stage:")}
    construct_jobs = sum(len([c for c in row["children"][0]["children"] if c["kind"] == "job"])
                         for row in tree if not row["name"].startswith("stage:"))
    sums = {(t["stage"], t["attempt"]): t for t in tr["tasks"]}
    job_stage_ids = {n["name"]: {(s["stage"], s["attempt"]) for s in n["children"]} for n in jobs}

    def task_sum(key, job_names=None):
        ids = set()
        for j, st in job_stage_ids.items():
            if job_names is None or j in job_names:
                ids |= st
        return sum(sums[i][key] for i in ids if i in sums)

    query_rows = [r for r in rows if r["kind"] == "query"]
    stage_rows = [r for r in rows if r["kind"] == "stage"]
    m["queries.construct_s"] = per(sum(r["construct"][1] - r["construct"][0] for r in query_rows) / 1000)
    m["queries.construct_jobs"] = per(construct_jobs)
    m["stages.build_s"] = per(sum(r["t1"] - r["t0"] for r in stage_rows) / 1000)
    m["stages.jobs"] = per(len(stage_jobs))
    m["stages.mb_written"] = per(task_sum("output", stage_jobs) / MB)

    # planning phases and plan census of the executions inside traced rows
    phase_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    census = {}
    for ph in _phases(record, rows):
        if ph["phase"] in phase_ms:
            phase_ms[ph["phase"]] += ph["t1"] - ph["t0"]
        for c, v in ph["census"].items():
            census[c] = census.get(c, 0) + v
    m["catalyst.analysis_ms"] = per(phase_ms["analysis"])
    m["catalyst.optimizer_ms"] = per(phase_ms["optimization"])
    m["catalyst.planning_ms"] = per(phase_ms["planning"])
    ex, reused = census.get("exchanges", 0), census.get("reused_exchanges", 0)
    m["catalyst.exchanges"] = per(ex)
    m["catalyst.reused_exchanges"] = per(reused)
    m["catalyst.reuse_ratio"] = reused / (ex + reused) if ex + reused else 0.0
    for c in ("non_codegen_ops", "cartesian_bnlj", "sort_aggregates"):
        m[f"catalyst.{c}"] = per(census.get(c, 0))

    wall_ms = sum(pass_wall_ms(p) for p in traced)
    m["exec.jobs"] = per(len(jobs))
    m["exec.stages"] = per(len({s for v in job_stage_ids.values() for s in v}))
    m["exec.tasks"] = per(task_sum("tasks"))
    m["exec.scheduler_delay_s"] = per(task_sum("delay_ms") / 1000)
    m["exec.task_run_s"] = per(task_sum("run_ms") / 1000)
    m["exec.task_cpu_s"] = per(task_sum("cpu_ns") / 1e9)
    m["exec.gc_s"] = per(task_sum("gc_ms") / 1000)
    m["exec.shuffle_read_mb"] = per(task_sum("shuffle_read") / MB)
    m["exec.shuffle_write_mb"] = per(task_sum("shuffle_write") / MB)
    m["exec.spill_mb"] = per(task_sum("spill") / MB)
    m["exec.input_mb"] = per(task_sum("input") / MB)
    m["exec.output_mb"] = per(task_sum("output") / MB)
    m["exec.failed_tasks"] = per(task_sum("failed"))
    m["exec.busy_frac"] = busy_frac(task_sum("busy_ms"), wall_ms, k)

    batches = [b for b in tr["progress"] if _row_of(b["t"], rows) is not None]
    dur = lambda key: sum(b["durations"].get(key, 0) for b in batches)
    m["streaming.batches"] = per(len(batches))
    m["streaming.input_rows"] = per(sum(b["input_rows"] for b in batches))
    m["streaming.nonempty_ratio"] = (
        sum(1 for b in batches if b["input_rows"] > 0) / len(batches) if batches else 0.0)
    m["streaming.plan_ms"] = per(dur("queryPlanning"))
    m["streaming.add_batch_ms"] = per(dur("addBatch"))
    m["streaming.wal_commit_ms"] = per(dur("walCommit"))
    peak_state = {}
    for b in batches:
        peak_state[b["run"]] = max(peak_state.get(b["run"], 0), b["state_rows"])
    m["streaming.state_rows"] = per(sum(peak_state.values()))
    batch_ms = [b["batch_ms"] for b in batches]
    m["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    m["streaming.batch_tail_ms"] = tail(batch_ms)[0] if batch_ms else 0.0

    etl_rows = [r for r in rows if r["name"].startswith("etl_")]
    etl_jobs = {j for j, r in row_of_job.items() if r.startswith("etl_")}
    m["etl.jobs_per_row"] = len(etl_jobs) / len(etl_rows) if etl_rows else 0.0
    m["etl.output_rows"] = per(task_sum("output_records", etl_jobs))
    m["etl.output_mb"] = per(task_sum("output", etl_jobs) / MB)

    for fam in FAMILIES:
        m[f"ops.{fam}.wall_s"] = per(sum(r["t1"] - r["t0"] for r in rows
                                         if r["name"].startswith(fam + "_")) / 1000)

    selfs = self_times(tree)
    for kind in ("row", "construct", "action", "job", "stage", "qe", "batch"):
        m[f"span.{kind}.self_s"] = per(selfs.get(kind, 0.0))
    job_cover = union_length([(n["t0"], n["t1"]) for n in jobs])
    m["trace.no_job_frac"] = 1 - job_cover / wall_ms if wall_ms else 0.0
    # the overhead of tracing is this minus an untraced run's wall_s
    m["trace.wall_s"] = statistics.median(pass_wall_ms(p) / 1000 for p in traced)
    return m, tree
