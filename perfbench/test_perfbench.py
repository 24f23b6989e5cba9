"""Test of the benchmark itself: every workload, untraced and traced, at the
benchmark's own scale (generated sf0.01) with short measured phases. Checks that the result line carries exactly the
metrics BENCHMARK.json names, with their units, that every named metric
of the workload prints with its unit, and that every correctness check
passes.

Usage: python3 perfbench/test_perfbench.py   (about four minutes)
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())

NAMED = {
    "serve-read": {"setup_s": "s", "ops_failed_frac": "fraction", "retained_heap_mb": "MB",
                   "point_read_p50_ms": "ms", "point_read_p99_ms": "ms", "fof_p50_ms": "ms",
                   "fof_p99_ms": "ms", "serve_ops_per_s": "1/s"},
    "ingest-mixed": {"setup_s": "s", "ops_failed_frac": "fraction", "retained_heap_mb": "MB",
                     "point_read_p50_ms": "ms", "point_read_p99_ms": "ms", "fof_p50_ms": "ms",
                     "fof_p99_ms": "ms", "serve_ops_per_s": "1/s", "ingest_edges_per_s": "1/s",
                     "commit_p50_ms": "ms", "commit_p90_ms": "ms",
                     "store_bytes_per_user_byte": "ratio"},
    "analytics": {"setup_s": "s", "ops_failed_frac": "fraction", "retained_heap_mb": "MB",
                  "pagerank_s": "s", "cc_s": "s", "bfs_s": "s", "fof_job_s": "s"},
}


def run(workload, trace):
    cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().split("\n")
    return json.loads(lines[-1]), lines[:-1]


class PerfbenchTest(unittest.TestCase):
    def check(self, workload, trace):
        result, lines = run(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        failures = [l for l in lines if l.startswith("failure ")]
        self.assertEqual(result["failed"], 0, failures)
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
            if not trace:
                self.assertGreater(v["value"], 0, k)
        printed = {l.split(" ")[1]: l.split(" ")[3] for l in lines if l.startswith("metric ")}
        for name, unit in NAMED[workload].items():
            self.assertEqual(printed.get(name), unit, f"{workload}: {name}")
        info = {l.split(" ")[1] for l in lines if l.startswith("info ")}
        self.assertTrue({"seed", "fixture_fingerprint", "nproc"} <= info)

    def test_serve_read(self):
        self.check("serve-read", 0)

    def test_serve_read_traced(self):
        self.check("serve-read", 1)

    def test_ingest_mixed(self):
        self.check("ingest-mixed", 0)

    def test_ingest_mixed_traced(self):
        self.check("ingest-mixed", 1)

    def test_analytics(self):
        self.check("analytics", 0)

    def test_analytics_traced(self):
        self.check("analytics", 1)


if __name__ == "__main__":
    unittest.main()
