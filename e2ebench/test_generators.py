"""Determinism tests for the seeded generators (builds on first use, ~30 s).

Run: python3 -m unittest discover e2ebench
"""

import os
import shutil
import subprocess
import types
import unittest

import run


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        cp = run.build()
        cmd, work = run.jvm(cp, types.SimpleNamespace(heap="1g", gc_threads=1), "graftbench.SelfTest")
        proc = subprocess.run(cmd + [work], cwd=work, capture_output=True, text=True, timeout=300)
        shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr[-2000:])
        self.assertNotIn("FAIL", proc.stdout)


if __name__ == "__main__":
    unittest.main()
