"""The benchmark's own tests: every workload at a tiny size.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. Each workload runs through run.py with
--tiny (two queries, or a 2,000-event backlog and 200 events/s), and the
tests assert that every metric BENCHMARK.json names is printed with its
unit, that the output check passed, and that a traced run writes spans
whose parents all resolve.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload, trace, seed=7, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return proc


def last_json(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["run_conditions"]


sys.path.insert(0, BENCH)
import run  # noqa: E402


class MetricsTest(unittest.TestCase):
    def test_missing_metric_fails(self):
        """A metric a workload did not emit stops the run (exit 3) instead
        of reading as a value."""
        spec = [{"name": "a", "unit": "ms"}, {"name": "b", "unit": "count"}]
        self.assertEqual(run.metrics_of(spec, {"a": 1.5, "b": 0.0}),
                         {"a": {"value": 1.5, "unit": "ms"}, "b": {"value": 0.0, "unit": "count"}})
        for values in ({"a": 1.5}, {"a": 1.5, "b": float("nan")}, {"a": 1.5, "b": None}):
            with self.assertRaises(SystemExit) as e:
                run.metrics_of(spec, values)
            self.assertEqual(e.exception.code, 3)


class WorkloadTest(unittest.TestCase):
    def check_run(self, workload, trace):
        proc = bench(workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        res, cond = last_json(proc)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], cond["failures"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(cond["seed"], 7)
        spec = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return res, cond

    def check_spans(self, cond):
        with open(os.path.join(ROOT, cond["spans_file"])) as fh:
            spans = json.load(fh)
        ids = {s["id"] for s in spans}
        self.assertEqual(len(ids), len(spans), "span ids are unique")
        roots = [s for s in spans if s["parent"] == ""]
        self.assertEqual(len(roots), 1)
        for s in spans:
            if s["parent"]:
                self.assertIn(s["parent"], ids, s)
            self.assertLessEqual(s["start_ms"], s["end_ms"], s)
        return {s["name"] for s in spans}

    def test_query_mix(self):
        self.check_run("query_mix", 0)

    def test_query_mix_traced(self):
        res, cond = self.check_run("query_mix", 1)
        names = self.check_spans(cond)
        self.assertTrue({"construct", "execute", "job"} <= names, names)
        self.assertTrue(any(n.startswith("plan:") for n in names), names)
        self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)

    def test_cdc_stream(self):
        self.check_run("cdc_stream", 0)

    def test_cdc_stream_traced(self):
        res, cond = self.check_run("cdc_stream", 1)
        names = self.check_spans(cond)
        self.assertTrue({"micro-batch", "addBatch", "refresh", "read", "exec"} <= names, names)
        self.assertGreater(res["metrics"]["streaming.batches"]["value"], 0)

    def test_refuses_without_program(self):
        """Without the engine's sources next to it the benchmark exits
        non-zero and prints no result."""
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("data", "target", "project"))
            proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                                   "--seed", "1", "--seconds", "1", "--trace", "0"],
                                  cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
