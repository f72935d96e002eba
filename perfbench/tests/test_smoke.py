"""The benchmark's own tests: the smoke mode (one op per workload at
sf0.001, every output checked), untraced and traced, plus the generator's
determinism.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, [json.loads(x) for x in lines], r.stderr


class SmokeTest(unittest.TestCase):
    def test_every_workload_once_untraced(self):
        code, lines, err = run("--smoke")
        self.assertEqual(code, 0, err[-2000:])
        total = lines[-1]
        self.assertTrue(total["correct"], err[-2000:])
        self.assertEqual(total["failed"], 0)
        results = [x for x in lines if "workload" in x]
        self.assertEqual({x["workload"] for x in results}, {"medallion", "dashboard", "curation"})
        names = {"setup_s", "op_p50_ms", "op_p95_ms", "refresh_s", "write_amp", "peak_rss_mb"}
        for x in results:
            self.assertEqual(set(x["metrics"]), names)
            self.assertTrue(all(m["value"] > 0 for m in x["metrics"].values()), x)

    def test_traced_run_prints_layers_and_overhead(self):
        code, lines, err = run("--smoke", "--workload", "medallion", "--trace", "1")
        self.assertEqual(code, 0, err[-2000:])
        m = lines[-2]["metrics"]
        for k in ["pipeline.run_ms", "ops.zone_write_ms", "prescriptive.score_ms",
                  "engine.tasks", "trace.overhead_ms", "session.start_ms"]:
            self.assertIn(k, m)
        self.assertGreater(m["pipeline.run_ms"]["value"], 0)
        self.assertGreater(m["engine.tasks"]["value"], 0)


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 0.001, 7)
            b = gen.generate(os.path.join(d, "b"), 0.001, 7)
            c = gen.generate(os.path.join(d, "c"), 0.001, 8)
            for t in sorted(os.listdir(a)):
                da = open(os.path.join(a, t), "rb").read()
                self.assertEqual(da, open(os.path.join(b, t), "rb").read(), t)
            self.assertNotEqual(open(os.path.join(a, "lineitem.parquet"), "rb").read(),
                                open(os.path.join(c, "lineitem.parquet"), "rb").read())


if __name__ == "__main__":
    unittest.main()
