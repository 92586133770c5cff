#!/usr/bin/env python3
"""The benchmark's own checks. Run from the root of a checkout:

    python3 flowbench/test_flowbench.py            # all (about 8 minutes)
    python3 flowbench/test_flowbench.py InputsTest # one class

InputsTest: one seed generates identical inputs, another seed different
ones (input fingerprints from `run.py --gen-only`).

CountersTest: two traced runs of one seed give identical deterministic
counters on every workload. These counters are the regression signal
that does not depend on host noise. Left out: `spark.tasks`,
`spark.stages`, `spark.input_files` and the byte counters, which
adaptive execution may change from run to run; and `spark.input_rows` on
lakehouse, because compaction range-partitions by sampling its input,
so file boundaries, and the rows a pushdown scan reads, shift.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# a seed no tuning run used
SEED = 9001


def run(*args):
    p = subprocess.run(RUN + list(args), cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for wl in ("mobility", "lakehouse"):
            with self.subTest(workload=wl):
                gen = ["--workload", wl, "--seconds", str(SPEC["run_seconds"]), "--gen-only"]
                a = run(*gen, "--seed", "5")
                b = run(*gen, "--seed", "5")
                c = run(*gen, "--seed", "6")
                self.assertEqual(a, b)
                self.assertEqual(a.keys(), c.keys())
                for table in a:
                    self.assertNotEqual(a[table], c[table], table)


def deterministic(workload, name):
    if name == "spark.input_rows":
        return workload != "lakehouse"
    return (name in ("spark.jobs", "sources.files_written", "sources.live_files")
            or (name.startswith("queries.") and name.endswith(".jobs")))


class CountersTest(unittest.TestCase):
    def test_traced_counters_repeat(self):
        for wl in WORKLOADS:
            with self.subTest(workload=wl):
                args = ["--workload", wl, "--seed", str(SEED),
                        "--seconds", str(SPEC["run_seconds"]), "--trace", "1"]
                first, second = run(*args), run(*args)
                self.assertTrue(first["correct"] and second["correct"])
                names = [n for n in first["metrics"] if deterministic(wl, n)]
                differ = {n: (first["metrics"][n]["value"], second["metrics"][n]["value"])
                          for n in names
                          if first["metrics"][n]["value"] != second["metrics"][n]["value"]}
                self.assertEqual(differ, {})


if __name__ == "__main__":
    unittest.main(verbosity=2)
