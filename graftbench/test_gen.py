"""Tests for the seeded input generator.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pyarrow.compute as pc

import gen


def _tables(workload, seed):
    size = gen.SIZES[workload]
    out = dict(zip(("orders", "lineitem"),
                   gen.trade(size["orders"], size["lines_per_order"], seed)))
    if "documents" in size:
        out["documents"] = gen.documents(size["documents"], seed)
        out["embeddings"] = gen.embeddings(size["embeddings"], seed)
    return out


class GenTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in gen.SIZES:
            a, b = _tables(w, 7), _tables(w, 7)
            for name in a:
                self.assertTrue(a[name].equals(b[name]), "%s/%s" % (w, name))

    def test_seeds_change_spelling_not_size(self):
        for w in gen.SIZES:
            a, b = _tables(w, 1), _tables(w, 2)
            for name in a:
                self.assertEqual(a[name].num_rows, b[name].num_rows, "%s/%s" % (w, name))
                self.assertFalse(a[name].equals(b[name]), "%s/%s" % (w, name))
            if "documents" in a:
                # the rename keeps every text's length, so sizes match exactly
                self.assertEqual(pc.sum(a["documents"]["n_chars"]).as_py(),
                                 pc.sum(b["documents"]["n_chars"]).as_py())

    def test_generate_writes_what_the_workload_reads(self):
        with tempfile.TemporaryDirectory() as d:
            rows = gen.generate(d, "etl_flow", 3)
            self.assertEqual(sorted(os.listdir(d)), ["lineitem.parquet", "orders.csv"])
            self.assertEqual(set(rows), {"orders", "lineitem"})


if __name__ == "__main__":
    unittest.main()
