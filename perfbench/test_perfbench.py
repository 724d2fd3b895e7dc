"""Tests of the benchmark's own parts: seeded generators are deterministic,
the metric helpers compute what they claim, and BENCHMARK.json agrees with
run.py.

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import run  # noqa: E402
import suitedata  # noqa: E402


def gen_digest(seed, items=3000):
    build.build()
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(), "perfbench.GenDigest",
                          str(seed), str(items)],
                         check=True, capture_output=True, text=True).stdout.split()
    return out[0], dict(kv.split("=") for kv in out[1:])


class SpotifyGeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_counts(self):
        self.assertEqual(gen_digest(7), gen_digest(7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(gen_digest(7)[0], gen_digest(8)[0])

    def test_edge_case_shares(self):
        _, c = gen_digest(7, items=30000)
        curated = int(c["curated"])
        self.assertEqual(int(c["items"]), 30000)
        self.assertAlmostEqual(curated / 30000, 149 / 150, delta=0.003)
        self.assertAlmostEqual(int(c["multi_artist"]) / curated, 92 / 150, delta=0.02)
        self.assertAlmostEqual(int(c["year_precision"]) / curated, 1 / 150, delta=0.003)
        self.assertGreater(int(c["null_preview"]), 0)
        self.assertGreater(int(c["techno"]), 0)
        self.assertGreater(int(c["defaulted"]), 0)
        self.assertEqual(int(c["malformed"]), curated * 2 // 1000)


class SuiteDataTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        build.BUILD.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.BUILD) as a, \
                tempfile.TemporaryDirectory(dir=build.BUILD) as b:
            suitedata.generate(a, 5)
            suitedata.generate(b, 5)
            for t in suitedata.TABLES:
                self.assertEqual((Path(a) / f"{t}.parquet").read_bytes(),
                                 (Path(b) / f"{t}.parquet").read_bytes(), t)

    def test_other_seed_other_events(self):
        e5 = suitedata.tables(5)["events"]
        e6 = suitedata.tables(6)["events"]
        self.assertNotEqual(e5.column("value").to_pylist(), e6.column("value").to_pylist())

    def test_oracle_tolerates_one_unit_in_sixth_decimal_only(self):
        self.assertTrue(suitedata._near("0.508279", "0.508278"))
        self.assertFalse(suitedata._near("0.50828", "0.50826"))
        self.assertFalse(suitedata._near("a", "b"))


class MetricTest(unittest.TestCase):
    def test_tail_needs_ten_beyond(self):
        xs = list(range(1, 101))
        value, pct, beyond = run.tail(xs)
        self.assertEqual((pct, beyond), (90, 10))
        self.assertAlmostEqual(value, 90.1)
        xs = [1.0, 2.0, 3.0, 10.0]
        self.assertEqual(run.tail(xs)[:2], (run.median(xs), 50))

    def test_geomean(self):
        self.assertAlmostEqual(run.geomean([1.0, 4.0]), 2.0)


class BenchmarkJsonTest(unittest.TestCase):
    def test_matches_run_py(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         ["setup_s", "work_s", "read_s", "live_heap_mb"])


if __name__ == "__main__":
    unittest.main()
