"""Deadline -> cancel -> failure accounting, end to end through the engine
process: the probe workload runs a Spark job whose tasks sleep past a 2 s
deadline, then a quick job. Builds the engine on first use (about 30 s)."""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


@unittest.skipUnless(shutil.which("java") and
                     os.path.isdir(os.path.join(ROOT, "src", "main", "scala")),
                     "needs java and the engine sources")
class DeadlineProbe(unittest.TestCase):

    def test_timeout_is_cancelled_counted_and_charged_at_deadline(self):
        r = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", "deadline_probe", "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertEqual((out["attempted"], out["failed"]), (2, 1))
        self.assertTrue(out["correct"])
        cold = out["metrics"]["cold_s"]["value"]
        # the sleeper is charged its 2 s deadline, not the 60 s its tasks
        # would sleep; the quick job adds well under a second
        self.assertGreaterEqual(cold, 2.0)
        self.assertLess(cold, 4.0)
        self.assertIn("deadline_probe fail_frac = 0.5 ratio", r.stdout)


if __name__ == "__main__":
    unittest.main()
