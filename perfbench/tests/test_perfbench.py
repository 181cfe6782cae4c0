"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

`test_smoke` runs every workload briefly at sf0.001 in both trace modes
through `run.py --smoke` (a few minutes: it builds on first use) and
requires every metric named in BENCHMARK.json, with its unit.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_data  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


class GenDataTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen_data.generate(a, 0.001, 7)
            gen_data.generate(b, 0.001, 7)
            gen_data.generate(c, 0.001, 8)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            self.assertEqual(sorted(os.listdir(a)), sorted(
                f"{n}.parquet" for n in ["region", "nation", "customer", "supplier",
                                         "part", "orders", "lineitem", "events",
                                         "documents", "embeddings"]))


class SmokeTest(unittest.TestCase):
    def test_smoke(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--smoke"],
                           cwd=ROOT, stdout=subprocess.PIPE, timeout=3600)
        res = json.loads(p.stdout.decode().strip().splitlines()[-1])
        self.assertEqual(res["problems"], [])
        self.assertEqual(p.returncode, 0)


if __name__ == "__main__":
    unittest.main()
