"""Metric math of the benchmark: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 31)))
        self.assertEqual(value, 20)           # 21..30 lie beyond it
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(n, 30)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs)[0], 2.0)   # 3.0 .. 12.0 lie beyond it

    def test_too_few_samples_falls_back_to_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # [1,4] and [3,6] overlap: together they cover 5, not 6
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_child_outside_the_span_is_clipped(self):
        self.assertEqual(metrics.self_time((0, 10), [(8, 12), (-3, 1)]), 7)

    def test_nested_and_identical_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(2, 8), (3, 4), (2, 8)]), 4)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((2, 5), []), 3)


class BusyFrac(unittest.TestCase):
    def test_task_time_over_wall_times_cores(self):
        self.assertEqual(metrics.busy_frac(task_ms=6000, wall_ms=2000, cores=4), 0.75)

    def test_empty_wall(self):
        self.assertEqual(metrics.busy_frac(100, 0, 4), 0.0)


def _record():
    """A traced one-pass record: one stage row with one job, one query row
    whose construction runs a job and whose action runs another, one
    streaming batch and one planned query execution."""
    t = 1_000_000.0
    row = lambda name, kind, t0, c1, t1: {
        "name": name, "kind": kind, "pass": 0, "traced": True, "t0": t0, "t1": t1,
        "construct": [t0, c1], "action": [c1, t1], "error": None,
        "analysis": [t0 + 10, t0 + 40] if kind == "query" else None,
        "fingerprint": None, "absorbed_stages": [], "heap_mb": 100.0}
    job = lambda j, group, t0, stages: {"job": j, "group": group, "t0": t0, "stages": stages}
    task = lambda st, busy: {"stage": st, "attempt": 0, "tasks": 2, "failed": 0,
                             "busy_ms": busy, "run_ms": busy, "cpu_ns": busy * 1e6,
                             "gc_ms": 1, "delay_ms": 2, "shuffle_read": 0,
                             "shuffle_write": 1048576, "spill": 0, "input": 0,
                             "output": 2097152, "output_records": 10}
    return {
        "env": {"k": 4},
        "setups_s": [3.0, 1.0, 2.0],
        "passes": [{"index": 0, "traced": True, "t0": t, "t1": t + 3000, "cpu_s": 7.5}],
        "rows": [row("stage:x", "stage", t, t + 1000, t + 1000),
                 row("sim_q", "query", t + 1000, t + 1500, t + 3000)],
        "trace": {
            "jobs": [job(1, "perfbench/0/stage:x", t + 100, [1]),
                     job(2, "perfbench/0/sim_q", t + 1100, [2]),
                     job(3, "perfbench/0/sim_q", t + 1600, [3, 4])],
            "job_ends": [{"job": 1, "t1": t + 900, "ok": True},
                         {"job": 2, "t1": t + 1400, "ok": True},
                         {"job": 3, "t1": t + 2900, "ok": True}],
            "stages": [{"stage": s, "attempt": 0, "t0": t0, "t1": t1, "ok": True}
                       for s, t0, t1 in [(1, t + 100, t + 900), (2, t + 1100, t + 1400),
                                         (3, t + 1700, t + 2000), (4, t + 1900, t + 2900)]],
            "tasks": [task(1, 1200), task(2, 400), task(3, 800), task(4, 1600)],
            "qe": [{"func": "save", "census": {"exchanges": 3, "reused_exchanges": 1},
                    "phases": [{"phase": "analysis", "t0": t + 1500, "t1": t + 1520},
                               {"phase": "optimization", "t0": t + 1520, "t1": t + 1560},
                               {"phase": "planning", "t0": t + 1560, "t1": t + 1570}]}],
            "progress": [{"run": "r", "batch": 0, "t": t + 1050, "batch_ms": 300,
                          "input_rows": 5, "state_rows": 7,
                          "durations": {"addBatch": 200, "queryPlanning": 30, "walCommit": 5}}],
        },
    }


class Layers(unittest.TestCase):
    def test_every_declared_metric_is_computed(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        record = _record()
        layer, _ = metrics.per_layer(record)
        self.assertEqual({m["name"] for m in bench["per_layer"]}, set(layer))
        e2e, _ = metrics.end_to_end(record)
        self.assertEqual({m["name"] for m in bench["end_to_end"]}, set(e2e))

    def test_attribution(self):
        m, tree = metrics.per_layer(_record())
        self.assertEqual(m["queries.construct_jobs"], 1)     # job 2 ran in construction
        self.assertEqual(m["stages.jobs"], 1)
        self.assertEqual(m["stages.mb_written"], 2.0)
        self.assertEqual(m["exec.jobs"], 3)
        self.assertEqual(m["exec.stages"], 4)
        self.assertEqual(m["exec.busy_frac"], 4000 / (3000 * 4))
        self.assertEqual(m["catalyst.reuse_ratio"], 0.25)
        self.assertEqual(m["catalyst.optimizer_ms"], 40)
        self.assertEqual(m["catalyst.analysis_ms"], 20 + 30)   # listener + built DataFrame
        self.assertEqual(m["streaming.add_batch_ms"], 200)
        self.assertEqual(m["ops.sim.wall_s"], 2.0)
        # job 3 runs 1600..2900; its stages overlap and cover 1700..2900
        self.assertAlmostEqual(m["span.job.self_s"], 0.1)
        # jobs cover 800 + 300 + 1300 ms of the 3000 ms pass
        self.assertAlmostEqual(m["trace.no_job_frac"], 1 - 2400 / 3000)
        kinds = [c["kind"] for c in tree[1]["children"]]
        self.assertEqual(sorted(kinds), ["action", "batch", "construct", "qe", "qe", "qe", "qe"])

    def test_end_to_end(self):
        e2e, info = metrics.end_to_end(_record())
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["wall_s"], 3.0)
        self.assertEqual(info["cpu_s"], 7.5)
        self.assertEqual(e2e["heap_live_peak_mb"], 100.0)
        self.assertEqual(info["query_p50_s"], 1.5)
        self.assertEqual(info["query_samples"], 2)

    def test_heap_settling_is_not_wall_time(self):
        record = _record()
        record["passes"][0]["settle_ms"] = 600.0
        e2e, _ = metrics.end_to_end(record)
        self.assertEqual(e2e["wall_s"], 2.4)
        m, _ = metrics.per_layer(record)
        self.assertEqual(m["trace.wall_s"], 2.4)
        self.assertEqual(m["exec.busy_frac"], 4000 / (2400 * 4))


if __name__ == "__main__":
    unittest.main()
