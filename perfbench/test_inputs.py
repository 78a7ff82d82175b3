#!/usr/bin/env python3
"""The benchmark's inputs are a function of the seed.

    python3 perfbench/test_inputs.py

For every workload, generating twice from one seed must give the same
input digest (SHA-256 over every generated row), and another seed a
different one.
"""
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("panel_fe", "graph_iter", "dedup_pipeline")


def digest(workload, seed):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--digest", "--workload", workload, "--seed", str(seed)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return r.stdout.strip().splitlines()[-1]


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                first, again, other = digest(w, 7), digest(w, 7), digest(w, 8)
                self.assertRegex(first, r"^[0-9a-f]{64}$")
                self.assertEqual(first, again)
                self.assertNotEqual(first, other)


if __name__ == "__main__":
    unittest.main()
