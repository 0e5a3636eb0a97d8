"""The merge workload's seeded split.  python3 -m unittest discover perfbench/tests"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import instances  # noqa: E402


def base_tables(d):
    n_cust, n_ord, n_line = 900, 6000, 18000
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([i % 25 for i in range(n_cust)], pa.int32()),
        "c_acctbal": [float(i) for i in range(n_cust)],
    }), os.path.join(d, "customer.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([(i * 7919) % n_cust for i in range(n_ord)], pa.int64()),
        "o_totalprice": [float(i) for i in range(n_ord)],
    }), os.path.join(d, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": pa.array([(i * 104729) % n_ord for i in range(n_line)], pa.int64()),
        "l_linenumber": pa.array([1 + i % 7 for i in range(n_line)], pa.int32()),
        "l_partkey": pa.array([i % 50 for i in range(n_line)], pa.int64()),
        "l_quantity": [float(1 + i % 50) for i in range(n_line)],
        "l_extendedprice": [float(i) for i in range(n_line)],
    }), os.path.join(d, "lineitem.parquet"))


class SplitTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = os.path.join(self.tmp.name, "base")
        os.makedirs(self.base)
        base_tables(self.base)

    def tearDown(self):
        self.tmp.cleanup()

    def split(self, seed, tag):
        src, dest = (os.path.join(self.tmp.name, tag, s) for s in ("src", "dest"))
        instances.carve(self.base, seed, src, dest)
        return {(side, t): pq.read_table(os.path.join(d, f"{t}.parquet")).to_pydict()
                for side, d in (("src", src), ("dest", dest)) for t in instances.TABLES}

    def test_same_seed_same_split(self):
        a = self.split(7, "a")
        self.assertEqual(a, self.split(7, "b"))
        self.assertNotEqual(a, self.split(8, "c"))

    def test_half_the_src_customers_are_in_dest(self):
        s = self.split(3, "a")
        src = set(s[("src", "customer")]["c_name"])
        dest = set(s[("dest", "customer")]["c_name"])
        self.assertTrue(0.4 < len(src & dest) / len(src) < 0.6)

    def test_each_side_is_referentially_whole(self):
        s = self.split(5, "a")
        for side in ("src", "dest"):
            cust = set(s[(side, "customer")]["c_custkey"])
            orders = s[(side, "orders")]
            self.assertTrue(set(orders["o_custkey"]) <= cust)
            self.assertTrue({r for r in s[(side, "customer")]["referred_by"] if r is not None} <= cust)
            line = s[(side, "lineitem")]
            self.assertTrue(set(line["l_orderkey"]) <= set(orders["o_orderkey"]))
            self.assertEqual(len(set(line["l_lineid"])), len(line["l_lineid"]))
        src_orders = set(s[("src", "orders")]["o_orderkey"])
        self.assertFalse(src_orders & set(s[("dest", "orders")]["o_orderkey"]))


if __name__ == "__main__":
    unittest.main()
