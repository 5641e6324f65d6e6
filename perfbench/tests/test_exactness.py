"""Two traced runs of one seed must give identical structural counters.

    python3 -m unittest discover -s perfbench/tests -p 'test_exactness.py'

Each workload is run twice with --trace 1 (about a minute per run). The
harness drains Spark's listener bus before it reads any counter, so a
difference here is a real difference in the work done, not a late event.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = ["scheduler.jobs", "scheduler.tasks", "shuffle.write_rows",
         "zones.rows_written", "streaming.batches"]


def workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def traced_run(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "trace.json")
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", "1", "--trace-out", out],
                       check=True, stdout=subprocess.DEVNULL)
        with open(out) as f:
            return json.load(f)["per_layer"]


class ExactnessTest(unittest.TestCase):
    def test_counters_repeat(self):
        for w in workloads():
            with self.subTest(workload=w):
                a, b = traced_run(w, 11), traced_run(w, 11)
                self.assertEqual({k: a[k] for k in EXACT}, {k: b[k] for k in EXACT})
                self.assertEqual(a["error_rate"], 0)


if __name__ == "__main__":
    unittest.main()
