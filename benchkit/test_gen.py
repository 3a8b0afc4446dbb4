#!/usr/bin/env python3
"""Determinism test for the seeded input generator.

Run from the root of a checkout:  python3 benchkit/test_gen.py

The same seed must give byte-identical content hashes for every table;
another seed must give different content with the same seed-invariant
check values (per-source and per-language document counts, lineitem
row count and graph card, per-label embedding counts).
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
SEED, OTHER = 7, 9001  # 9001 is the hold-out seed


def report(seed):
    out = subprocess.run([sys.executable, RUN, "--gen-report", "--seed", str(seed)],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a1, cls.a2, cls.b = report(SEED), report(SEED), report(OTHER)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.a1["hashes"], self.a2["hashes"])

    def test_other_seed_other_bytes(self):
        for table, h in self.a1["hashes"].items():
            self.assertNotEqual(h, self.b["hashes"][table], table)

    def test_other_seed_same_check_values(self):
        self.assertEqual(self.a1["checks"], self.b["checks"])


if __name__ == "__main__":
    unittest.main()
