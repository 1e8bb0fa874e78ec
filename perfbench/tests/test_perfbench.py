"""The benchmark's own tests: tiny runs print every metric BENCHMARK.json
lists, with its unit; a deliberately corrupted output fails its check;
and the command refuses to run where there is no program to build.

    python3 -m unittest discover -s perfbench/tests -v     # from the repo root, ~5 min
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import build  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def tiny(workload, *extra):
    return run("--workload", workload, "--seed", "7", "--seconds", "0", "--size", "tiny", *extra)


class TinyRuns(unittest.TestCase):
    def check_metrics(self, res, listed):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = {m["name"]: m["unit"] for m in listed}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)
        for v in res["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_workload_prints_every_metric(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(build.WORKLOADS))
        for w in build.WORKLOADS:
            with self.subTest(workload=w, trace=0):
                code, res, err = tiny(w, "--trace", "0")
                self.assertEqual(code, 0, err[-3000:])
                self.check_metrics(res, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=w, trace=1):
                code, res, err = tiny(w, "--trace", "1")
                self.assertEqual(code, 0, err[-3000:])
                self.check_metrics(res, SPEC["per_layer"])
                self.assertGreaterEqual(res["metrics"]["trace.top_span_coverage"]["value"], 0.95)


class CorruptedOutputs(unittest.TestCase):
    CASES = [
        ("feature_store", "materialize", "backfill_latest_vs_row_number_reference"),
        ("feature_store", "refresh", "refreshed_latest_vs_full_recompute"),
        ("embedding_ann", "upsert", "index_covers_space"),
        ("corpus_dedup", "components", "components_match_union_find"),
    ]

    def test_corruption_fails_its_check(self):
        for workload, op, check in self.CASES:
            with self.subTest(workload=workload, op=op):
                code, res, err = tiny(workload, "--trace", "0", "--corrupt", op)
                self.assertNotEqual(code, 0)
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)
                record = os.path.join(build.build_dir(), "runs",
                                      f"{workload}-tiny-s7-t0-corrupt_{op}.json")
                with open(record) as f:
                    failed = {x["op"] for x in json.load(f)["failures"]}
                self.assertIn(f"check:{check}", failed)


class NoProgram(unittest.TestCase):
    def test_refuses_without_sources(self):
        bare = os.path.join(build.build_dir(), "tests", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            code, res, _ = run("--workload", "corpus_dedup", "--seed", "1", "--seconds", "1",
                               "--trace", "0", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
