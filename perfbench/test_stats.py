"""Self-tests for the benchmark's own arithmetic.

    python3 perfbench/test_stats.py
"""

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def task(launch, finish, run_ms=0, inp=0, out=0, sh_read=0, sh_write=0, spill=0):
    return [launch, finish, run_ms, inp, out, sh_read, sh_write, spill]


def record(spans, ops, tasks=(), jobs=(), stages=(), blocks=()):
    return {"spans": [list(s) for s in spans], "ops": ops, "tasks": [list(t) for t in tasks],
            "jobs": [list(j) for j in jobs], "stages": [list(s) for s in stages],
            "blocks": [list(b) for b in blocks], "peak_rss_mb": 100.0}


def op(idx, start, end, traced=True, error=None, pins=(0, 0), extras=None):
    return {"idx": idx, "start_ms": start, "end_ms": end, "traced": traced, "error": error,
            "pins_before": pins[0], "pins_after": pins[1], "extras": extras or {}}


class Percentiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([5.0], 84), 5.0)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 84), 4)

    def test_tail_percentile_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(64), 84)
        self.assertEqual(stats.tail_percentile(20), 50)
        for n in (20, 37, 64, 100, 1000):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10)
            if p < 99:  # the next percentile up leaves fewer than ten
                nxt = sum(1 for x in xs if x > stats.percentile(xs, p + 1))
                self.assertLess(nxt, 10)

    def test_tail_percentile_falls_back_to_max(self):
        self.assertEqual(stats.tail_percentile(3), 100)
        self.assertEqual(stats.tail_percentile(19), 100)


class Attribution(unittest.TestCase):
    spans = [
        (0, "op", -1, 0, 0.0, 100.0),
        (1, "queries", 0, 0, 10.0, 40.0),
        (2, "exec", 0, 0, 50.0, 90.0),
        (3, "op", -1, 1, 200.0, 300.0),
        (4, "exec", 3, 1, 210.0, 290.0),
    ]

    def test_innermost_span_by_time_window(self):
        idx = stats.SpanIndex([list(s) for s in self.spans])
        self.assertEqual(idx.find(20.0)[0], 1)
        self.assertEqual(idx.find(45.0)[0], 0)   # between children: the op itself
        self.assertEqual(idx.find(60.0)[0], 2)
        self.assertEqual(idx.find(150.0), None)  # between ops
        self.assertEqual(idx.find(-5.0), None)
        self.assertEqual(idx.find(250.0)[0], 4)
        self.assertEqual(idx.find(400.0), None)

    def test_events_land_in_their_span(self):
        rec = record(self.spans, [op(0, 0, 100), op(1, 200, 300)],
                     tasks=[task(15, 30, run_ms=1000, sh_read=2e6),
                            task(60, 80, run_ms=500, out=3e6),
                            task(220, 260, run_ms=250, spill=1e6)],
                     jobs=[(0, 12, 35), (1, 55, 85), (2, 215, 280), (3, 150, 160)],
                     stages=[(0, 12, 35, 1), (1, 55, 85, 1)],
                     blocks=[(20, 5e6), (70, 9e6), (75, 4e6)])
        _, c = stats.layer_counters(rec)
        self.assertEqual(c[1]["jobs"], 1)
        self.assertEqual(c[2]["jobs"], 1)
        self.assertEqual(c[4]["jobs"], 1)
        self.assertEqual(c[0]["jobs"], 0)  # job 3 fell between ops: unattributed
        self.assertAlmostEqual(c[1]["task_s"], 1.0)
        self.assertAlmostEqual(c[1]["shuffle_read_mb"], 2.0)
        self.assertAlmostEqual(c[2]["written_mb"], 3.0)
        self.assertAlmostEqual(c[4]["spill_mb"], 1.0)
        self.assertAlmostEqual(c[2]["cached_mb_peak"], 9.0)
        self.assertEqual(c[2]["stages"], 1)


class SelfTime(unittest.TestCase):
    def test_span_minus_children(self):
        parent = (0, "op", -1, 0, 0.0, 100.0)
        kids = [(1, "a", 0, 0, 10.0, 40.0), (2, "b", 0, 0, 50.0, 90.0)]
        self.assertAlmostEqual(stats.self_time_ms(parent, kids), 30.0)

    def test_overlapping_and_overhanging_children_count_once(self):
        parent = (0, "op", -1, 0, 0.0, 100.0)
        kids = [(1, "a", 0, 0, 10.0, 60.0), (2, "b", 0, 0, 50.0, 120.0)]
        self.assertAlmostEqual(stats.self_time_ms(parent, kids), 10.0)
        self.assertAlmostEqual(stats.self_time_ms(parent, []), 100.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)


class Metrics(unittest.TestCase):
    def traced_record(self):
        spans = [(0, "op", -1, 1, 1000.0, 2000.0), (1, "exec", 0, 1, 1100.0, 1900.0)]
        ops = [op(0, 0.0, 500.0, traced=False), op(1, 1000.0, 2000.0, pins=(2, 3))]
        return record(spans, ops, tasks=[task(1200, 1600, run_ms=1600)],
                      jobs=[(0, 1150, 1850)])

    def test_end_to_end_names_every_metric_with_its_unit(self):
        rec = record([], [op(0, 0, 1000, traced=False), op(1, 1000, 3000, traced=False,
                                                             error="wrong")])
        m = stats.with_units(stats.end_to_end(rec, 4.5, 100), stats.END_TO_END)
        self.assertEqual(set(m), set(stats.END_TO_END))
        for name, v in m.items():
            self.assertEqual(v["unit"], stats.END_TO_END[name])
            self.assertIsInstance(v["value"], float)
        self.assertAlmostEqual(m["setup_s"]["value"], 4.5)
        self.assertAlmostEqual(m["ops_per_s"]["value"], 2 / 3.0)
        self.assertAlmostEqual(m["latency_p50_s"]["value"], 1.5)
        self.assertAlmostEqual(m["latency_tail_s"]["value"], 2.0)
        self.assertAlmostEqual(m["success_rate"]["value"], 0.5)
        json.dumps(m)

    def test_per_layer_names_every_metric_with_its_unit(self):
        m = stats.with_units(stats.per_layer(self.traced_record(), cpus=4), stats.PER_LAYER)
        self.assertEqual(set(m), set(stats.PER_LAYER))
        for name, v in m.items():
            self.assertEqual(v["unit"], stats.PER_LAYER[name])
        self.assertAlmostEqual(m["exec.run_s"]["value"], 0.8)
        self.assertEqual(m["exec.jobs"]["value"], 1)
        self.assertAlmostEqual(m["exec.task_s"]["value"], 1.6)
        self.assertAlmostEqual(m["exec.utilization"]["value"], 1.6 / (0.8 * 4))
        self.assertAlmostEqual(m["bench.other_s"]["value"], 0.2)
        self.assertAlmostEqual(m["driver.no_task_s"]["value"], 0.6)
        self.assertEqual(m["storage.pins_after_op"]["value"], 3)
        self.assertEqual(m["storage.pins_peak"]["value"], 3)
        # untraced op: 2 ops/s; traced op: 1 op/s
        self.assertAlmostEqual(m["bench.trace_overhead_pct"]["value"], 100.0)
        self.assertEqual(m["pipeline.ingest_s"]["value"], 0.0)


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_the_harness_prints(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, stats.PER_LAYER)

    def test_notes_give_every_workload_its_seeds_and_tail(self):
        import run
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(root, "perfbench", "benchmark_notes.json")) as f:
            notes = json.load(f)["workloads"]
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(notes))
        self.assertEqual(set(notes), set(run.WORKLOADS))
        for w in notes.values():
            self.assertNotEqual(w["dev_seed"], w["heldout_seed"])
            self.assertEqual(w["latency_tail_percentile"],
                             stats.tail_percentile(w["min_timed_ops"]))

    def test_refuses_to_run_without_the_program_sources(self):
        import tempfile
        import shutil
        here = os.path.dirname(os.path.abspath(__file__))
        scratch = os.path.join(os.path.dirname(here), ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copytree(here, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "refresh_ticks", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
