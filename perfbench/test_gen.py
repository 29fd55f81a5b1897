"""Tests of the seeded input generators and the oracle digest.

    python3 perfbench/test_gen.py
"""
import datetime as dt
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BASE = os.path.join(HERE, "data", "sf0.01")


def tree_digest(root):
    """Hash of every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for d, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class ReadInputs(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        self.assertEqual(gen.read_inputs(7), gen.read_inputs(7))

    def test_other_seed_other_sequence(self):
        self.assertNotEqual(gen.read_inputs(7)["rounds"], gen.read_inputs(8)["rounds"])

    def test_every_round_runs_each_query_once(self):
        for r in gen.read_inputs(3)["rounds"]:
            self.assertEqual(sorted(r), sorted(gen.READ_QUERIES))


class CorpusInputs(unittest.TestCase):
    def make(self, seed, factor=2):
        d = tempfile.mkdtemp()
        n = gen.corpus_inputs(seed, BASE, d, factor)
        return d, n

    def test_same_seed_byte_identical(self):
        (a, _), (b, _) = self.make(5), self.make(5)
        self.assertEqual(tree_digest(a), tree_digest(b))

    def test_other_seed_differs(self):
        (a, _), (b, _) = self.make(5), self.make(6)
        self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_replicas_keep_shape(self):
        d, n = self.make(5, factor=3)
        base = pq.read_table(f"{BASE}/documents.parquet")
        docs = pq.read_table(f"{d}/documents.parquet")
        self.assertEqual(n, 3 * base.num_rows)
        self.assertEqual(docs.schema, base.schema)
        ids = docs.column("doc_id").to_pylist()
        self.assertEqual(len(set(ids)), len(ids))
        # a permutation keeps every text's length and token boundaries
        for src, out in zip(base.column("text").to_pylist(), docs.column("text").to_pylist()):
            if src is not None:
                self.assertEqual(len(src), len(out))
                self.assertEqual([len(t) for t in src.split()], [len(t) for t in out.split()])


class IngestInputs(unittest.TestCase):
    def make(self, seed, cycles=3):
        d = tempfile.mkdtemp()
        return d, gen.ingest_inputs(seed, d, cycles)

    def test_same_seed_byte_identical(self):
        (a, ca), (b, cb) = self.make(11), self.make(11)
        self.assertEqual(tree_digest(a), tree_digest(b))
        strip = lambda c: [{k: v for k, v in x.items() if k != "dir"} for x in c["cycles"]]  # noqa: E731
        self.assertEqual(strip(ca), strip(cb))
        self.assertEqual(ca["series"], cb["series"])

    def test_other_seed_differs(self):
        (a, _), (b, _) = self.make(11), self.make(12)
        self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_late_points_are_at_or_before_the_last_stored_point(self):
        d, cfg = self.make(11)
        rate = {s["id"]: s["rate_s"] for s in cfg["series"]}
        for k, c in enumerate(cfg["cycles"]):
            t = pq.read_table(os.path.join(c["dir"], "stream.parquet")).to_pylist()
            late = [r for r in t if r["value"] <= gen.LATE_SENTINEL]
            lo = dt.datetime.strptime(c["from"], gen.FMT).replace(tzinfo=dt.timezone.utc)
            self.assertEqual(len(t) - len(late), c["stream_rows"])
            for r in late:
                self.assertLessEqual(r["datetime"], lo - dt.timedelta(seconds=rate[r["timeseries_id"]]))
            self.assertEqual(bool(late), k > 0)


class Digest(unittest.TestCase):
    def test_order_and_column_order_do_not_matter(self):
        a = pa.table({"b": [1.5, None], "a": ["x", "y"]})
        b = pa.table({"a": ["y", "x"], "b": [None, 1.5]})
        self.assertEqual(oracle.digest(a), oracle.digest(b))

    def test_values_matter(self):
        a = pa.table({"a": [0.1 + 0.2]})
        b = pa.table({"a": [0.3]})
        self.assertNotEqual(oracle.digest(a), oracle.digest(b))


if __name__ == "__main__":
    unittest.main()
