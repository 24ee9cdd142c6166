#!/usr/bin/env python3
"""The benchmark's own test of its pruning guard.

The guard fails a run when the optimized plan of a read op's materializing
action drops any output column of the query. This test runs it on four
queries whose count() Catalyst prunes to a scan: a `noop` write of each
must pass, while a count() and a one-column `noop` write must be caught.

Run from the root of a checkout:  python3 perfbench/tests/test_guard.py
"""
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "run.py")


class PruningGuardTest(unittest.TestCase):
    def test_guard_passes_noop_and_catches_pruned_actions(self):
        r = subprocess.run([sys.executable, RUN, "--selfcheck"],
                           capture_output=True, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        lines = [l for l in r.stdout.splitlines() if l.endswith(("ok", "FAIL"))]
        self.assertEqual(len(lines), 4, r.stdout)
        self.assertTrue(all(l.endswith("ok") for l in lines), r.stdout)


if __name__ == "__main__":
    unittest.main()
