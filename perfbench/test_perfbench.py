"""Tests of the benchmark harness's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The digest test builds and runs the harness JVM twice (about a minute);
the others are pure arithmetic."""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def span(name, layer, start, end, parent=""):
    return {"name": name, "layer": layer, "start_us": start, "end_us": end,
            "parent": parent}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 90))
        self.assertEqual(metrics.percentile(list(range(100)), 90), 89)
        self.assertEqual(metrics.percentile(list(range(1, 201)), 90), 180)

    def test_median_is_always_reported(self):
        self.assertEqual(metrics.percentile([5.0, 1.0, 3.0], 50), 3.0)
        self.assertIsNone(metrics.percentile([], 50))


class SelfTime(unittest.TestCase):
    def test_span_minus_the_part_children_cover(self):
        spans = [span("flow", "other", 0, 100), span("build", "build", 0, 40),
                 span("sink", "sink_write", 40, 100),
                 span("job 1", "jobs", 10, 30), span("job 2", "jobs", 50, 70),
                 span("job 3", "jobs", 60, 90), span("stage 7", "jobs", 12, 20, "job 1")]
        parents = metrics.build_tree(spans)
        self.assertEqual([spans[p]["name"] if p is not None else None for p in parents],
                         [None, "flow", "flow", "build", "sink", "sink", "job 1"])
        own = dict(zip((s["name"] for s in spans), metrics.self_times(spans, parents)))
        self.assertEqual(own["build"], 40 - 20)
        self.assertEqual(own["job 1"], 20 - 8)
        # job 2 and job 3 overlap on 60..70: the earlier one owns the overlap
        self.assertEqual(own["job 2"], 20)
        self.assertEqual(own["job 3"], 20)
        self.assertEqual(own["sink"], 60 - 40)
        self.assertEqual(own["flow"], 0)
        self.assertEqual(sum(own.values()), 100)

    def test_layers_plus_other_sum_to_wall(self):
        spans = [span("flow", "other", 0, 1000), span("build", "build", 0, 300),
                 span("sink", "sink_write", 300, 900),
                 span("analysis", "catalyst", 310, 350),
                 span("batch 0", "micro_batch", 50, 250), span("job 4", "jobs", 60, 200),
                 span("job 5", "jobs", 400, 950)]
        cols = metrics.flow_self_ms(spans, codegen_ms=0.05)
        self.assertAlmostEqual(sum(cols.values()), 1.0)
        self.assertAlmostEqual(cols["other"], 0.1)  # 900..1000, outside build and sink
        self.assertAlmostEqual(cols["build"], 0.1)  # 0..50 and 250..300
        self.assertAlmostEqual(cols["micro_batch"], 0.06)
        self.assertAlmostEqual(cols["jobs"], 0.14 + 0.5)
        self.assertAlmostEqual(cols["catalyst"], 0.04)
        # sink self is 300..310 and 350..400; codegen is carved out of it
        self.assertAlmostEqual(cols["codegen"], 0.05)
        self.assertAlmostEqual(cols["sink_write"], 0.01)


class DriverGap(unittest.TestCase):
    def test_wall_minus_union_of_jobs(self):
        self.assertEqual(metrics.driver_gap(0, 100, []), 100)
        self.assertEqual(metrics.driver_gap(0, 100, [(10, 30), (20, 40), (60, 70)]), 60)
        # jobs reaching outside the flow count only inside it
        self.assertEqual(metrics.driver_gap(0, 100, [(-5, 10), (90, 120)]), 80)


class OverheadRatio(unittest.TestCase):
    @staticmethod
    def passes(ms, traced):
        return [{"pass": i + 1, "pass_ms": m, "traced": t, "failed": 0}
                for i, (m, t) in enumerate(zip(ms, traced))]

    def test_linear_drift_cancels_in_abba_blocks(self):
        # passes get 100 ms faster each time; tracing itself costs nothing
        ms = [1000 - 100 * i for i in range(8)]
        abba = [False, True, True, False] * 2
        self.assertEqual(metrics.overhead_ratio(self.passes(ms, abba)), 1.0)
        # a constant 10% tracing cost shows as 1.1
        ms = [m * (1.1 if t else 1.0) for m, t in zip(ms, abba)]
        self.assertAlmostEqual(metrics.overhead_ratio(self.passes(ms, abba)), 1.1)

    def test_incomplete_block_is_left_out(self):
        ps = self.passes([1000, 1100, 1100, 1000, 500, 9000], [False, True, True, False,
                                                                False, True])
        self.assertAlmostEqual(metrics.overhead_ratio(ps), 1.1)


class RowsPerSecond(unittest.TestCase):
    @staticmethod
    def records(read):
        recs = [{"type": "pass", "pass": 1, "traced": False, "failed": 0,
                 "heap_retained_mb": 50.0}]
        for flow, rows in read.items():
            recs.append({"type": "flow", "phase": "timed", "pass": 1, "flow": flow,
                         "traced": False, "ok": True, "start_us": 0, "end_us": 500000,
                         "input_rows": rows, "batch_ms": []})
        return recs

    def test_numerator_is_the_stored_input_count(self):
        stored = {"a": 1000, "b": 3000}
        # a flow that reads fewer or more records than stored does not move it
        for read in ({"a": 1000, "b": 3000}, {"a": 10, "b": 30}, {"a": 5000, "b": 9000}):
            e2e = metrics.end_to_end(self.records(read), stored)
            self.assertEqual(e2e["pass_s"], 1.0)
            self.assertEqual(e2e["rows_per_s"], 4000.0)
        self.assertIsNone(metrics.end_to_end(self.records({"a": 1, "c": 1}),
                                             stored)["rows_per_s"])


class DigestsRepeat(unittest.TestCase):
    FLOWS = "q02_filter_expr,q04_cogroup_inner,q52_trap"

    def run_once(self, seed):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "flows_sf0.001",
             "--seed", str(seed), "--seconds", "0", "--passes", "0",
             "--flows", self.FLOWS], cwd=os.path.dirname(HERE), capture_output=True,
            text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        records = os.path.join(os.path.dirname(HERE), ".bench_work")
        run = [d for d in os.listdir(records) if d.startswith("run-")][0]
        with open(os.path.join(records, run, "records.jsonl")) as fh:
            recs = [json.loads(line) for line in fh]
        return {r["flow"]: (r["rows"], r["digest"]) for r in recs
                if r["type"] == "flow" and r["phase"] == "warm"}

    def test_two_runs_give_identical_digests(self):
        first, second = self.run_once(1), self.run_once(2)
        self.assertEqual(sorted(first), sorted(self.FLOWS.split(",")))
        self.assertEqual(first, second)


if __name__ == "__main__":
    unittest.main()
