"""The generators are a pure function of their arguments: the same seed
gives byte-identical input files, and another seed gives other files.

Run: python3 fraudbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class SameSeedSameBytes(unittest.TestCase):
    def check(self, workload, seconds):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.generate(workload, 7, seconds, a)
            gen.generate(workload, 7, seconds, b)
            gen.generate(workload, 8, seconds, c)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_ingest_peak(self):
        self.check("ingest_peak", 2)

    def test_model_trickle(self):
        self.check("model_trickle", 2)

    def test_analytics_ticks(self):
        self.check("analytics_ticks", 2)


if __name__ == "__main__":
    unittest.main()
