"""The generated inputs depend on the seed and nothing else.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import workloads  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class SeededInputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in workloads.TAIL:
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                pa = workloads.make_inputs(w, a, 5, 10)
                pb = workloads.make_inputs(w, b, 5, 10)
                pc = workloads.make_inputs(w, c, 6, 10)
                self.assertEqual(pa, pb, w)
                self.assertTrue(same_tree(a, b), w)
                self.assertFalse(same_tree(a, c) and pa == pc, w)


if __name__ == "__main__":
    unittest.main()
