"""Tests of the benchmark's own code: seeded generators and order statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


def tree_hash(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        t = cls.tmp.name
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen.tables(os.path.join(t, name), seed)
            gen.ingest(os.path.join(t, name, "ingest"), seed, n_batches=3, batch_rows=400,
                       n_deletes=40, n_lookups=4, lookup_keys=64, zone=(0, 100))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def path(self, *p):
        return os.path.join(self.tmp.name, *p)

    def test_same_seed_same_bytes(self):
        self.assertEqual(tree_hash(self.path("a")), tree_hash(self.path("b")))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(tree_hash(self.path("a")), tree_hash(self.path("c")))

    def test_join_keys_consistent(self):
        con = oracle.connect(self.path("a"))
        q = lambda s: con.execute(s).fetchone()[0]  # noqa: E731
        # every foreign key finds its row, and keys are unique
        for sql in ("SELECT count(*) FROM lineitem l ANTI JOIN orders o ON l_orderkey = o_orderkey",
                    "SELECT count(*) FROM lineitem ANTI JOIN part ON l_partkey = p_partkey",
                    "SELECT count(*) FROM lineitem ANTI JOIN supplier ON l_suppkey = s_suppkey",
                    "SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey",
                    "SELECT count(*) - count(DISTINCT o_orderkey) FROM orders",
                    "SELECT count(*) - count(DISTINCT doc_id) FROM documents"):
            self.assertEqual(q(sql), 0, sql)

    def test_ingest_batches_are_fixed_size_and_unambiguous(self):
        d = self.path("a", "ingest")
        for b in range(3):
            ups = duckdb.sql(f"SELECT o_orderkey FROM '{d}/upsert-{b:03d}.parquet'").fetchall()
            dels = duckdb.sql(f"SELECT o_orderkey FROM '{d}/delete-{b:03d}.parquet'").fetchall()
            self.assertEqual(len(ups), 400)
            self.assertEqual(len(dels), 40)
            keys = [k for (k,) in ups + dels]
            self.assertEqual(len(keys), len(set(keys)), "a key both upserted and deleted")
        with open(os.path.join(d, "lookups.json")) as f:
            self.assertEqual([len(s) for s in json.load(f)], [64] * 4)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 1001))   # 1000 samples: p99 leaves 10 beyond it
        self.assertEqual(stats.tail(xs), (99.0, 990))
        xs = list(range(1, 200))    # 199 samples: p95 leaves 9, p90 leaves 19
        self.assertEqual(stats.tail(xs), (90.0, 180))
        xs = list(range(1, 41))     # 40: p75 leaves exactly 10
        self.assertEqual(stats.tail(xs), (75.0, 30))

    def test_no_tail_below_twenty_samples(self):
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9))
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertIsNone(stats.tail([]))

    def test_failures_count_as_infinite(self):
        xs = [1.0] * 30 + [float("inf")] * 10
        self.assertEqual(stats.tail(xs), (75.0, 1.0))
        xs = [1.0] * 29 + [float("inf")] * 11
        self.assertEqual(stats.tail(xs), (75.0, float("inf")))

    def test_spread(self):
        m, q1, q3, s = stats.spread([10, 10, 10, 10, 10])
        self.assertEqual((m, s), (10, 0.0))
        m, q1, q3, s = stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertAlmostEqual(s, (q3 - q1) / m)


class DigestTest(unittest.TestCase):
    def test_encoding(self):
        self.assertEqual(oracle.cell(-0.0), oracle.cell(0.0))
        self.assertEqual(oracle.cell(float("nan")), "fnan")
        self.assertEqual(oracle.cell(1.0), "f3ff0000000000000")
        self.assertEqual(oracle.cell(3), "i3")
        self.assertEqual(oracle.cell(True), "b1")

    def test_order_independent(self):
        a = oracle.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = oracle.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["x", "y"], [(1, "a"), (2, "c")]))


if __name__ == "__main__":
    unittest.main()
