#!/usr/bin/env python3
"""Determinism test of the benchmark's workload generator.

    python3 perfbench/test_generator.py

Writes every workload's generated input files (a reduced copy, through
`perfbench.Main --gen`) twice with one seed and once with another, inside
`.bench_build/work/`: the same seed must give byte-identical files, a
different seed different ones. Builds the benchmark first if needed.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp, cls.share = run.classpath()
        os.makedirs(run.WORK, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=run.WORK)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def generate(self, seed, name):
        out = os.path.join(self.tmp, name)
        subprocess.run(run.jvm(self.cp, *self.share)
                       + ["perfbench.Main", "--gen", out, "--seed", str(seed)],
                       check=True, stdout=subprocess.DEVNULL)
        files = {}
        for d, _, names in os.walk(out):
            for n in names:
                with open(os.path.join(d, n), "rb") as f:
                    files[os.path.relpath(os.path.join(d, n), out)] = f.read()
        return files

    def test_same_seed_gives_identical_files(self):
        a, b = self.generate(7, "a"), self.generate(7, "b")
        self.assertGreater(len(a), 20)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertEqual(a[name], b[name], name)

    def test_other_seed_gives_other_files(self):
        a, c = self.generate(7, "a2"), self.generate(8, "c")
        self.assertEqual(sorted(a), sorted(c))
        for name in a:
            self.assertNotEqual(a[name], c[name], name)


if __name__ == "__main__":
    unittest.main()
