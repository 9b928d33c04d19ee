"""Self-tests of the benchmark's own rules: failure accounting, the
oracle comparison and the input generator.

Run: python3 -m unittest discover -s bench/tests
"""
import os
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


def sample(name, digest, latency=1.0, error=None):
    return {"name": name, "digest": digest, "latency_s": latency,
            "error": error}


class FailureAccounting(unittest.TestCase):
    verified = {"q1": "3:aa", "q2": "5:bb"}

    def account(self, samples, oracle_ok):
        return stats.account(samples, self.verified, oracle_ok,
                             lambda name: [name])

    def test_good_samples_contribute_times(self):
        att, failed, good = self.account(
            [sample("q1", "3:aa", 1.5), sample("q2", "5:bb", 2.5)],
            {"q1": True, "q2": True})
        self.assertEqual((att, failed, good), (2, 0, [1.5, 2.5]))

    def test_exception_digest_mismatch_and_oracle_failure_all_fail(self):
        att, failed, good = self.account(
            [sample("q1", None, 9.0, error="java.lang.RuntimeException: x"),
             sample("q1", "3:ab", 9.0),      # corrupted output
             sample("q2", "5:bb", 9.0),      # its oracle failed
             sample("q1", "3:aa", 1.0)],
            {"q1": True, "q2": False})
        self.assertEqual((att, failed), (4, 3))
        self.assertEqual(good, [1.0])  # a failure never contributes a time

    def test_unverified_op_fails(self):
        _, failed, _ = self.account([sample("q3", "1:00")], {"q3": True})
        self.assertEqual(failed, 1)


class OracleCompare(unittest.TestCase):
    def test_equal_up_to_row_and_column_order(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
        b = pd.DataFrame({"v": [0.25, 0.5], "k": [2, 1]})
        self.assertIsNone(oracle.compare(a, b))

    def test_corrupted_value_is_rejected(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
        b = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.250001]})
        self.assertIsNotNone(oracle.compare(a, b))

    def test_dtype_mismatch_is_rejected(self):
        a = pd.DataFrame({"n": [1, 2]})
        b = pd.DataFrame({"n": [1.0, 2.0]})
        self.assertIsNotNone(oracle.compare(a, b))


def write_source(d):
    """A tiny source with every table and id column the generator maps."""
    n = 40
    ids = pa.array(range(n), pa.int64())
    tables = {
        "region": pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}),
        "nation": pa.table({"n_nationkey": pa.array([0, 1], pa.int32())}),
        "customer": pa.table({"c_custkey": ids,
                              "c_acctbal": pa.array([float(i) - 20 for i in range(n)])}),
        "supplier": pa.table({"s_suppkey": pa.array(range(10), pa.int64())}),
        "part": pa.table({"p_partkey": pa.array(range(20), pa.int64())}),
        "orders": pa.table({"o_orderkey": ids,
                            "o_custkey": pa.array([i % n for i in range(n)], pa.int64())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array([i // 2 for i in range(2 * n)], pa.int64()),
            "l_partkey": pa.array([i % 20 for i in range(2 * n)], pa.int64()),
            "l_suppkey": pa.array([i % 10 for i in range(2 * n)], pa.int64())}),
        "events": pa.table({
            "event_id": pa.array(range(3 * n), pa.int64()),
            "user_id": pa.array([i % 20 for i in range(3 * n)], pa.int64()),
            "props": pa.array([f'{{"k": {i % 15}}}' for i in range(3 * n)])}),
        "documents": pa.table({"doc_id": ids, "text": pa.array(["a b"] * n)}),
        "embeddings": pa.table({"vec_id": ids}),
    }
    for t, tab in tables.items():
        pq.write_table(tab, os.path.join(d, f"{t}.parquet"))


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.src = os.path.join(cls.tmp.name, "src")
        os.makedirs(cls.src)
        write_source(cls.src)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def gen(self, seed, name):
        out = os.path.join(self.tmp.name, name)
        gen.generate(seed, out, self.src, share=0.5)
        return out

    def read(self, out, t):
        return pq.read_table(os.path.join(out, f"{t}.parquet"))

    def test_same_seed_gives_identical_bytes(self):
        a, b = self.gen(7, "a"), self.gen(7, "b")
        for t in gen.TABLES:
            with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                    open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
                self.assertEqual(fa.read(), fb.read(), t)

    def test_different_seed_gives_different_ids(self):
        a, c = self.gen(7, "a2"), self.gen(8, "c")
        for t, col in (("customer", "c_custkey"), ("events", "user_id"),
                       ("documents", "doc_id")):
            self.assertNotEqual(self.read(a, t)[col].to_pylist(),
                                self.read(c, t)[col].to_pylist(), t)

    def test_relabelling_keeps_keys_joined_and_ranges(self):
        out = self.gen(11, "d")
        cust = set(self.read(out, "customer")["c_custkey"].to_pylist())
        orders = self.read(out, "orders")
        self.assertTrue(set(orders["o_custkey"].to_pylist()) <= cust)
        kept_orders = set(orders["o_orderkey"].to_pylist())
        self.assertTrue(set(self.read(out, "lineitem")["l_orderkey"].to_pylist())
                        <= kept_orders)
        # the kept share of each id range, relabelled within that range
        self.assertEqual(sorted(cust), list(range(20)))
        self.assertEqual(self.read(out, "customer")["c_acctbal"].to_pylist(),
                         [float(i) - 20 for i in range(20)])


if __name__ == "__main__":
    unittest.main()
