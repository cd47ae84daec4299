"""The benchmark's own tests: the Scala self tests plus a check that the
metric catalog the benchmark prints matches BENCHMARK.json.

    python3 perfbench/test_bench.py
"""
import json
import pathlib
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=ROOT,
                          capture_output=True, text=True)


class BenchmarkTest(unittest.TestCase):
    def test_selftest(self):
        p = run("--selftest")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertIn("selftest: all passed", p.stdout)

    def test_catalog_matches_benchmark_json(self):
        p = run("--list-metrics")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        catalog = json.loads(p.stdout.strip().splitlines()[-1])
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        for key in ("end_to_end", "per_layer"):
            self.assertEqual([(m["name"], m["unit"]) for m in catalog[key]],
                             [(m["name"], m["unit"]) for m in bench[key]], key)
        self.assertEqual(catalog["workloads"], [w["name"] for w in bench["workloads"]])
        setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
