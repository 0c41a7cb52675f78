"""Self-test of the benchmark's correctness check (slow: starts Spark).

    python3 -m unittest discover -s perfbench/tests -p 'test_selfcheck.py'

  - In planted-wrong-answer mode one checked result is corrupted before
    the comparison; the command must then fail on every workload,
    curate_corpus included.
  - In a directory that holds only BENCHMARK.json and the benchmark's own
    files (no engine sources) the command must fail without a result.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
WORKLOADS = [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]
# runnable, and traced inside catalog_report's traced run, but not timed
# by BENCHMARK.json: its check must still catch a planted answer
UNLISTED = ["curate_corpus"]


def run(cwd, *args):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          timeout=600)


class PlantedWrongAnswerTest(unittest.TestCase):
    def test_every_workload_fails(self):
        for w in WORKLOADS + UNLISTED:
            with self.subTest(workload=w):
                p = run(ROOT, "--workload", w, "--seed", "1", "--seconds", "4",
                        "--trace", "0", "--plant-wrong")
                self.assertNotEqual(p.returncode, 0)
                last = p.stdout.decode().strip().splitlines()[-1]
                result = json.loads(last)
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)


class NoEngineTest(unittest.TestCase):
    def test_fails_without_a_result(self):
        d = os.path.join(ROOT, ".bench_build", "selfcheck-%d" % os.getpid())
        shutil.rmtree(d, ignore_errors=True)
        try:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = run(d, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "2",
                    "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.decode().strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
