"""Self-tests of the benchmark: generators, AF3 oracle, end-to-end runs.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root; the first test to need the harness builds it.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_suite  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.BUILD, "selftest")


def harness(*args):
    """Run the harness JVM in a scratch dir; return its stdout lines."""
    os.makedirs(SCRATCH, exist_ok=True)
    return run.java(run.classpath(), list(args), SCRATCH, os.path.join(SCRATCH, "jvm.log"))


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class Generators(unittest.TestCase):
    def test_af3_same_seed_same_bytes(self):
        for workload, jobs in (("af3_focus", 1), ("af3_screen", 12)):
            dirs = [os.path.join(SCRATCH, f"{workload}-{i}") for i in (1, 2)]
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
                harness("gen", "--workload", workload, "--seed", "7", "--jobs", str(jobs),
                        "--out", d)
            self.assertTrue(same_tree(*dirs), workload)
            other = os.path.join(SCRATCH, f"{workload}-seed8")
            shutil.rmtree(other, ignore_errors=True)
            harness("gen", "--workload", workload, "--seed", "8", "--jobs", str(jobs),
                    "--out", other)
            self.assertFalse(same_tree(dirs[0], other), workload)

    def test_screen_tree_carries_the_edges(self):
        d = os.path.join(SCRATCH, "af3_screen-1")
        if not os.path.exists(d):
            self.test_af3_same_seed_same_bytes()
        names = [f for _, _, fs in os.walk(d) for f in fs]
        self.assertEqual(sum(f.startswith("._") for f in names), 3)
        summaries = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
                     if f.endswith("_summary_confidences_0.json") and not f.startswith("._")]
        corrupt = 0
        for s in summaries:
            try:
                json.loads(run.read(s))
            except ValueError:
                corrupt += 1
        self.assertEqual(corrupt, 2)
        no_pae = 0
        for r, _, fs in os.walk(d):
            for f in fs:
                if f.endswith("_full_data_0.json") and not f.startswith("._"):
                    no_pae += "pae" not in json.loads(run.read(os.path.join(r, f)))
        self.assertEqual(no_pae, 2)

    def test_suite_same_seed_same_bytes(self):
        dirs = [os.path.join(SCRATCH, f"suite-{i}") for i in (1, 2)]
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
            gen_suite.write(d, 7)
        self.assertTrue(same_tree(*dirs))


class Oracle(unittest.TestCase):
    def test_reproduces_committed_fixture_report(self):
        fixture = os.path.join(ROOT, "src", "test", "resources", "af3")
        out = os.path.join(SCRATCH, "fixture_report.csv")
        harness("oracle", "--input", fixture, "--out", out)
        got = run.read(out).splitlines()
        want = run.read(os.path.join(fixture, "expected_report.csv")).splitlines()
        # rows only: the fixture names its columns after the pipeline's
        # frame, the CLI report after the chains
        self.assertEqual(sorted(got[1:]), sorted(want[1:]))


class EndToEnd(unittest.TestCase):
    def check(self, workload):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", "0", "--jobs", "2"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.splitlines()[-1])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(res["metrics"]["ok_frac"]["value"], 1.0)
        self.assertEqual(set(res["metrics"]), set(run.END_TO_END))

    def test_af3_focus_two_jobs(self):
        self.check("af3_focus")

    def test_af3_screen_two_jobs(self):
        self.check("af3_screen")


if __name__ == "__main__":
    unittest.main()
