"""Tests of the seeded input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import shutil
import tempfile
import unittest

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=WORK)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, seed, name):
        out = os.path.join(self.dir, name)
        gen.write_events(seed, os.path.join(out, "events"), 2)
        gen.write_query_tables(seed, os.path.join(out, "query"), scale=0.2)
        return out

    def test_same_seed_same_bytes(self):
        self.assertEqual(digest(self.write(7, "a")), digest(self.write(7, "b")))

    def test_other_seed_other_rows(self):
        a, b = self.write(7, "a"), self.write(8, "b")
        for t in ("events/events.parquet", "events/batches/batch_00.parquet",
                  "query/orders.parquet", "query/documents.parquet"):
            self.assertNotEqual(pq.read_table(os.path.join(a, t)),
                                pq.read_table(os.path.join(b, t)), t)

    def test_event_shape(self):
        hist = gen.history(3)
        n = len(hist)
        dups = n - len(pc.unique(hist["event_id"]))
        self.assertAlmostEqual(dups / n, gen.DUP_RATE, delta=0.003)
        self.assertGreater(hist["props"].null_count, 0)  # poison rows
        self.assertLess(hist["props"].null_count / n, 0.005)
        day0 = gen.T0_US + gen.HISTORY["days"] * gen.DAY_US
        batch = gen.batches(3, hist, 1)[0]
        ts = pc.cast(batch["ts"], "int64").to_numpy()
        self.assertTrue((ts < day0).any())  # late or redelivered events
        self.assertTrue((ts >= day0).any())  # the new hour


if __name__ == "__main__":
    unittest.main()
