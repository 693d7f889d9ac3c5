"""Tiny-scale end-to-end runs of every workload, through run.py.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. Each run builds (once), runs the JVM at a
small input scale and checks the printed result: every metric present,
output checks clean (error ratio 0). Takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def bench(workload, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    return p


class TinyRuns(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def check(self, workload, trace):
        p = bench(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stderr[-3000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        names = [m["name"] for m in
                 self.spec["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(r["metrics"]), sorted(names))
        if not trace:
            for n in names:
                self.assertGreater(r["metrics"][n]["value"], 0, n)
        return r

    def test_huge_tx(self):
        self.check("huge_tx", 0)

    def test_small_tx_live(self):
        self.check("small_tx_live", 0)

    def test_analytics(self):
        self.check("analytics", 0)

    def test_traced_run_reports_layers(self):
        m = self.check("huge_tx", 1)["metrics"]
        for n in ("wal_socket.rows_per_s", "log.bytes", "parse.rows_per_s_1core",
                  "replay.busy_s", "decode.tasks", "spark.tasks"):
            self.assertGreater(m[n]["value"], 0, n)

    def test_refuses_without_library_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target"))
            p = bench("huge_tx", 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
