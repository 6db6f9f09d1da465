"""The generators are deterministic in their seed.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeedTest(unittest.TestCase):
    def once(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            m = fn(d, seed)
            return tree_digest(d), m

    def check(self, fn):
        """Same seed: byte-identical files and manifest; another seed: other
        files."""
        d1, m1 = self.once(fn, 7)
        d2, m2 = self.once(fn, 7)
        self.assertEqual(d1, d2)
        self.assertEqual(m1, m2)
        self.assertNotEqual(d1, self.once(fn, 8)[0])
        return m1

    def test_tfl(self):
        m = self.check(lambda d, s: gen.gen_tfl(d, s, weeks=2, rows_per_week=500))
        weeks = m["weeks"]
        self.assertEqual(len(weeks), 2)
        self.assertFalse(weeks[0]["gen_b"])
        self.assertTrue(weeks[1]["gen_b"])
        self.assertEqual(weeks[1]["cum_rows"], weeks[0]["rows"] + weeks[1]["rows"])
        self.assertGreaterEqual(weeks[1]["dim_station"], m["stations"])

    def test_corpus(self):
        m = self.check(lambda d, s: gen.gen_corpus(
            d, s, n_docs=200, batches=3, n_bench=2, probes_per_family=3))
        self.assertEqual(sum(m["batches"]), m["docs"])
        self.assertEqual(m["docs"], 200 + m["planted"]["replicas"])
        self.assertGreater(m["planted"]["replicas"], 0)
        self.assertGreater(m["planted"]["span_planted"], 0)
        self.assertGreater(m["embeddings"], 0)
        p = m["probes"]
        self.assertEqual(len(p["schedule"]), 9)
        self.assertEqual(len(p["bm25_terms"]), 3)
        self.assertEqual(len(set(p["lm_doc_ids"])), 3)

    def test_operators(self):
        m = gen.gen_operators()
        self.assertEqual(m, gen.gen_operators())
        self.assertEqual(len(set(m["operators"])), 12)
        self.assertEqual(m["rows"], 7000)

if __name__ == "__main__":
    unittest.main()
