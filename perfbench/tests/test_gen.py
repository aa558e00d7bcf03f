"""The generator is a pure function of the seed.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in gen.WORKLOADS:
            with self.subTest(workload=workload), \
                    tempfile.TemporaryDirectory() as d:
                one, two, other = (os.path.join(d, n)
                                   for n in ("one", "two", "other"))
                gen.generate(workload, 7, one)
                gen.generate(workload, 7, two)
                gen.generate(workload, 8, other)
                self.assertTrue(same_tree(one, two))
                self.assertFalse(same_tree(one, other))

    def test_ranges_match_version_order(self):
        self.assertTrue(gen.in_range("1.10.0", "vers:npm/>=1.2.0|<2.0.0"))
        self.assertFalse(gen.in_range("1.1.9", "vers:npm/>=1.2.0|<2.0.0"))
        self.assertTrue(gen.in_range("3.0.0-1", "vers:deb/>=1.2.0-1"))
        self.assertTrue(gen.in_range("2.0.0", "vers:npm/2.0.0"))
        self.assertFalse(gen.in_range("2.0.1", "vers:npm/2.0.0"))
        self.assertFalse(gen.in_range("2.0.0", None))

    def test_quality_rules(self):
        self.assertTrue(gen.passes_quality("the kan lor mis nut pes"))
        self.assertFalse(gen.passes_quality("kan lor mis"))
        self.assertFalse(gen.passes_quality(" ".join(["kan"] * 12)))
        self.assertFalse(gen.passes_quality("kan lor mis nut pes rot"))


if __name__ == "__main__":
    unittest.main()
