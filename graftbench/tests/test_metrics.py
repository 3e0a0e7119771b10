"""Unit tests of the benchmark's metric arithmetic.

  python3 -m unittest discover -s graftbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def span(name, parent, start, end, op=0):
    return {"name": name, "parent": parent, "op": op, "start_ns": start, "end_ns": end}


def report(traced):
    """A two-round report: one untraced round, one traced round."""
    counters = {k: 1.0 for k in (
        "jobs", "stages", "tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms",
        "shuffle_write_bytes", "shuffle_read_records", "fetch_wait_ms",
        "spill_bytes", "peak_exec_bytes", "output_records", "analysis_ms",
        "optimization_ms", "planning_ms", "cache_bytes_left")}
    ops, rounds = [], []
    for r, t in enumerate((False, True)):
        start = r * 10**10
        for i in range(12):
            s = start + i * 10**8
            ops.append({"kind": "query", "name": f"q{i}", "round": r, "traced": t,
                        "start_ns": s, "end_ns": s + (i + 1) * 10**7, "ok": True,
                        "error": None, "rows": 5, "counters": counters if t else None,
                        "extras": {}})
        rounds.append({"index": r, "traced": t, "start_ns": start,
                       "end_ns": start + 12 * 10**8, "input_rows": 60})
    return {"first_op_epoch_s": 105.0, "cores": 4, "peak_rss_kb": 2048,
            "rounds": rounds, "ops": ops, "layer": {},
            "spans": [span("op.query", -1, 10**10, 10**10 + 10**7, 12),
                      span("queries.build", 0, 10**10, 10**10 + 4 * 10**6, 12)]}


class TailRule(unittest.TestCase):
    def test_omitted_with_too_few_ops(self):
        self.assertIsNone(metrics.tail_latency([]))
        self.assertIsNone(metrics.tail_latency([1.0] * metrics.TAIL_BEYOND))

    def test_smallest_sample_with_a_tail(self):
        # 11 ops: only the fastest has 10 ops beyond it
        xs = [float(i) for i in range(11, 0, -1)]
        self.assertEqual(metrics.tail_latency(xs), (1.0, 100.0 / 11, 11))

    def test_hundred_ops_give_p90(self):
        xs = [float(i) for i in range(1, 101)]
        value, pct, n = metrics.tail_latency(list(reversed(xs)))
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), metrics.TAIL_BEYOND)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span("op", -1, 0, 10_000_000_000),
                 span("a", 0, 1_000_000_000, 4_000_000_000),
                 span("b", 0, 5_000_000_000, 9_000_000_000),
                 span("b.inner", 2, 6_000_000_000, 7_000_000_000)]
        self.assertEqual(metrics.self_times(spans), [3.0, 3.0, 3.0, 1.0])

    def test_child_starting_with_its_parent(self):
        # a seam-timed child (merge durable) shares its parent's start
        spans = [span("streaming.batch", -1, 0, 5), span("streaming.merge_durable", 0, 0, 3)]
        self.assertEqual(metrics.self_times(spans), [2e-9, 3e-9])


class Names(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK_JSON) as fh:
            self.spec = json.load(fh)

    def test_declared_metrics_equal_benchmark_json(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         metrics.PER_LAYER)

    def test_printed_metrics_equal_benchmark_json(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = metrics.result(report(trace), 100.0, trace)["metrics"]
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            self.assertEqual({k: v["unit"] for k, v in got.items()}, want)

    def test_result_line_shape(self):
        r = metrics.result(report(0), 100.0, 0)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 24, 0))
        self.assertAlmostEqual(r["metrics"]["setup_s"]["value"], 5.0)
        self.assertAlmostEqual(r["metrics"]["wall_s"]["value"], 1.2)
        self.assertAlmostEqual(r["metrics"]["rows_per_s"]["value"], 50.0)

    def test_workloads_match_the_runner(self):
        sys.path.insert(0, os.path.dirname(HERE))
        import run
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
