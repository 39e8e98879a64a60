"""The generator is deterministic: one seed, byte-identical inputs.

    python3 -m unittest perfbench/tests/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".bench_work")


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)

    def make(self, seed, root):
        """All inputs of one seed: dsl/, serve/ and suite/ under a new dir."""
        d = os.path.join(root, f"{seed}-{len(os.listdir(root))}")
        for sub in ("dsl", "serve"):
            os.makedirs(os.path.join(d, sub))
        gen.dsl_inputs(seed, 2_000, os.path.join(d, "dsl"))
        gen.serve_inputs(seed, 2_000, 100, 2, 3, 50, os.path.join(d, "serve"))
        gen.suite_dir(seed, os.path.join(d, "suite"))
        return d

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as root:
            a, b = self.make(7, root), self.make(7, root)
            for sub in ("dsl", "serve", "suite"):
                self.assertEqual(digest(os.path.join(a, sub)), digest(os.path.join(b, sub)), sub)

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as root:
            a, b = self.make(7, root), self.make(8, root)
            for sub in ("dsl", "serve", "suite"):
                self.assertNotEqual(digest(os.path.join(a, sub)),
                                    digest(os.path.join(b, sub)), sub)

    def test_suite_keys_stay_joinable(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory(dir=SCRATCH) as root:
            d = os.path.join(self.make(3, root), "suite")
            orders = set(pq.read_table(f"{d}/orders.parquet")["o_orderkey"].to_pylist())
            li = set(pq.read_table(f"{d}/lineitem.parquet")["l_orderkey"].to_pylist())
            src = pq.read_table(f"{gen.suite_source()}/orders.parquet").num_rows
            self.assertEqual(len(orders), src)
            self.assertTrue(li <= orders)

    def test_event_timestamps_are_naive_micros(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory(dir=SCRATCH) as root:
            d = self.make(1, root)
            ts = pq.ParquetFile(f"{d}/dsl/events.parquet").schema.column(1)
            self.assertIn("isAdjustedToUTC=false", str(ts.logical_type))
            self.assertIn("microseconds", str(ts.logical_type))


if __name__ == "__main__":
    unittest.main()
