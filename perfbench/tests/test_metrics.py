"""Failure accounting and the shape of the printed result."""
import contextlib
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402
import run  # noqa: E402


def call(name, status, elapsed, deadline=10.0, layer="apps"):
    return {"name": name, "layer": layer, "status": status, "error": "",
            "deadline_s": deadline, "elapsed_s": elapsed, "rows": 1,
            "hash": "h"}


def result(passes):
    """Pass 0 is cold, pass 1 settles, the rest are warm samples."""
    kinds = ["cold", "settle"] + ["warm"] * len(passes)
    return {"workload": "w", "setup_s": [3.0, 1.0, 1.2], "peak_rss_mb": 900.0,
            "stuck": False,
            "passes": [{"index": i, "kind": kinds[i], "traced": False,
                        "cpu_s": 2.0 + i, "gc_s": 0.1, "write_mb": 10.0 + i,
                        "wall_s": 0.0, "cached_mb": 1.0,
                        "cached_relations": 2, "calls": cs}
                       for i, cs in enumerate(passes)]}


class Accounting(unittest.TestCase):

    def test_timeout_is_charged_at_its_deadline(self):
        # a timed-out call that took 12.5 s of wall time (cancel latency
        # included) counts its 10 s deadline, never its elapsed time
        self.assertEqual(metrics.charged(call("a", "timeout", 12.5)), 10.0)
        self.assertEqual(metrics.charged(call("a", "error", 0.2)), 10.0)
        self.assertEqual(metrics.charged(call("a", "ok", 0.2)), 0.2)

    def test_fixing_a_timeout_never_reads_as_a_slowdown(self):
        before = [call("a", "ok", 1.0), call("b", "timeout", 11.0)]
        after = [call("a", "ok", 1.0), call("b", "ok", 9.9)]
        self.assertLessEqual(metrics.pass_seconds({"calls": after}),
                             metrics.pass_seconds({"calls": before}))

    def test_failures_count_against_attempts(self):
        r = result([[call("a", "ok", 2.0), call("b", "timeout", 10.5)],
                    [call("a", "ok", 1.2), call("b", "ok", 3.1)],
                    [call("a", "ok", 1.0), call("b", "timeout", 10.1)],
                    [call("a", "ok", 1.5), call("b", "ok", 3.0)]])
        self.assertEqual(metrics.counts(r), (8, 2))
        e = metrics.end_to_end(r)
        self.assertEqual(e["fail_frac"][0], 2 / 8)
        self.assertEqual(e["cold_s"][0], 12.0)
        # the settling pass (index 1) is not a warm sample
        self.assertEqual(e["warm_s"][0], (11.0 + 4.5) / 2)
        self.assertEqual(e["setup_s"][0], 1.2)
        # process CPU over the warm passes, divided by their number
        self.assertEqual(e["warm_cpu_s"][0], 4.5)
        r["passes"].append(dict(r["passes"][-1], index=4, cpu_s=9.0))
        self.assertEqual(metrics.end_to_end(r)["warm_cpu_s"][0], 6.0)
        self.assertEqual(e["write_mb"][0], 10.0 + 12.5)


class ResultShape(unittest.TestCase):

    def last_line(self, r, trace=None, bad=()):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run.report("w", r, trace, list(bad))
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def test_untraced_line(self):
        out = self.last_line(result([[call("a", "ok", 2.0)],
                                     [call("a", "ok", 1.3)],
                                     [call("a", "ok", 1.0)],
                                     [call("a", "ok", 1.1)]]))
        self.assertEqual(set(out), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (4, 0))
        self.assertEqual(list(out["metrics"]),
                         [n for n, _ in metrics.END_TO_END])
        for name, unit in metrics.END_TO_END:
            m = out["metrics"][name]
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], unit)
            self.assertIsInstance(m["value"], float)

    def test_incorrect_output_is_reported(self):
        out = self.last_line(result([[call("a", "ok", 2.0)],
                                     [call("a", "ok", 1.0)]]),
                             bad=["task1 row 0"])
        self.assertFalse(out["correct"])

    def test_traced_line_has_every_layer_metric(self):
        r = result([[call("a", "ok", 2.0)], [call("a", "ok", 1.0)],
                    [call("a", "ok", 1.0)], [call("a", "ok", 1.0)]])
        r["passes"][2]["traced"] = True
        spans = [
            {"id": "p2", "kind": "pass", "name": "warm", "parent": "w",
             "layer": "", "start_ms": 0, "end_ms": 1000,
             "counts": {"gc_s": 0.1, "cached_mb": 1.0,
                        "cached_relations": 2.0}},
            {"id": "p2/c0", "kind": "call", "name": "a", "parent": "p2",
             "layer": "apps", "start_ms": 0, "end_ms": 1000, "counts": {}},
            {"id": "sj1", "kind": "spark_job", "name": "g", "parent": "p2/c0",
             "layer": "", "start_ms": 100, "end_ms": 600, "counts": {}},
            {"id": "qe1", "kind": "plan", "name": "planning",
             "parent": "p2/c0", "layer": "", "start_ms": 0, "end_ms": 100,
             "counts": {"plan_s": 0.1}},
            {"id": "st1.0", "kind": "stage", "name": "s", "parent": "sj1",
             "layer": "", "start_ms": 100, "end_ms": 600,
             "counts": {"tasks": 4.0, "task_cpu_s": 1.5, "input_mb": 2.0}}]
        out = self.last_line(r, trace={"spans": spans})
        names = [n for n, _, _ in metrics.per_layer_names()]
        self.assertEqual(sorted(out["metrics"]), sorted(names))
        self.assertLessEqual(len(names), 128)
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertAlmostEqual(m["apps.wall_s"], 1.0)
        self.assertAlmostEqual(m["apps.plan_s"], 0.1)
        self.assertAlmostEqual(m["apps.self_s"], 0.4)
        self.assertAlmostEqual(m["apps.driver_gap_s"], 0.4)
        self.assertEqual(m["apps.jobs"], 1)
        self.assertEqual(m["apps.tasks"], 4)
        self.assertAlmostEqual(m["sources.input_mb"], 2.0)
        self.assertAlmostEqual(m["runtime.trace_overhead_frac"], 0.0)


if __name__ == "__main__":
    unittest.main()
