#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest workbench/test_workbench.py

- the same seed gives byte-identical generated data and op streams, and a
  different seed gives different ones (digest of every workload's inputs);
- every metric BENCHMARK.json names is one the benchmark registers, with the
  same unit and direction, and nothing the benchmark declares is missing;
- in a directory that holds only BENCHMARK.json and the benchmark's files,
  run.py exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

ROOT = build.ROOT


def jvm(*args):
    classes = build.build()
    run_dir = os.path.join(build.BUILD_DIR, f"test-{os.getpid()}")
    try:
        out = subprocess.run(run.java_cmd(classes, run_dir, list(args), heap="1g"),
                             capture_output=True, text=True, check=True).stdout
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return out.strip().splitlines()


class Determinism(unittest.TestCase):
    def digest(self, workload, seed):
        return jvm("digest", "--workload", workload, "--seed", str(seed), "--ops", "200")[-1]

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in ("search", "churn", "rag", "rag_read"):
            with self.subTest(workload=w):
                a, b, c = self.digest(w, 7), self.digest(w, 7), self.digest(w, 8)
                self.assertRegex(a, "^[0-9a-f]{64}$")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_mutate_shares_churn_inputs(self):
        self.assertEqual(self.digest("mutate", 3), self.digest("churn", 3))


class Registry(unittest.TestCase):
    def test_benchmark_json_matches_the_registry(self):
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        reg = {m["name"]: m for m in map(json.loads, jvm("metrics"))}
        for key, per_layer in (("end_to_end", False), ("per_layer", True)):
            listed = bench[key]
            for m in listed:
                with self.subTest(metric=m["name"]):
                    self.assertIn(m["name"], reg)
                    r = reg[m["name"]]
                    self.assertEqual(r["unit"], m["unit"])
                    self.assertEqual(r["better"], m["better"])
                    self.assertIs(r["declared"], True)
                    self.assertEqual(r["per_layer"], per_layer)
            declared = {n for n, r in reg.items()
                        if r["declared"] and r["per_layer"] == per_layer}
            self.assertEqual(declared, {m["name"] for m in listed})


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        bare = os.path.join(build.BUILD_DIR, f"bare-{os.getpid()}")
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.makedirs(bare)
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "workbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "workbench/run.py", "--workload", "search",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
