"""The two parquet instances the merge workload merges, carved from the
base customer, orders and lineitem tables by a seeded split.

Each customer lands in dest only, in both, or in src only, a third
each, so half the src customers are already in dest (matched by
c_name). Orders follow their customer; those of a shared customer go to
either side by a second draw. Lineitems follow their order, one per
(l_orderkey, l_linenumber), keyed by l_lineid = l_orderkey * 8 +
l_linenumber. Each side derives a self-FK (referred_by: the previous
customer of the same side) and a uuid; one shared customer in twenty
keeps the same uuid on both sides, a collision the merge must repair.
"""
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("customer", "orders", "lineitem")


def unif(tag, key):
    """Uniform float in [0, 1) drawn from (tag, key)."""
    d = hashlib.blake2b(f"{tag}:{key}".encode(), digest_size=8).digest()
    return int.from_bytes(d, "big") / 2.0 ** 64


def uuid_of(text):
    h = hashlib.md5(text.encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def carve(base, seed, src_dir, dest_dir):
    """Writes <src_dir>/<table>.parquet and <dest_dir>/<table>.parquet."""
    cust = pq.read_table(os.path.join(base, "customer.parquet"),
                         columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal"]).to_pydict()
    orders = pq.read_table(os.path.join(base, "orders.parquet"),
                           columns=["o_orderkey", "o_custkey", "o_totalprice"]).to_pydict()
    line = pq.read_table(os.path.join(base, "lineitem.parquet"),
                         columns=["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                                  "l_extendedprice"]).to_pydict()
    side = {k: unif(f"split-{seed}", k) for k in cust["c_custkey"]}
    for out, is_src in ((src_dir, True), (dest_dir, False)):
        os.makedirs(out, exist_ok=True)
        name = "src" if is_src else "dest"

        def keep(k):
            return side[k] >= 1 / 3 if is_src else side[k] < 2 / 3

        def shared(k):
            return 1 / 3 <= side[k] < 2 / 3

        rows = sorted((k, n, nat, bal) for k, n, nat, bal in zip(
            cust["c_custkey"], cust["c_name"], cust["c_nationkey"], cust["c_acctbal"]) if keep(k))
        keys = [r[0] for r in rows]
        uuids = [uuid_of(f"shared:{k}") if shared(k) and unif(f"uuid-{seed}", k) < 0.05
                 else uuid_of(f"{name}:{seed}:{k}") for k in keys]
        pq.write_table(pa.table({
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([r[1] for r in rows], pa.string()),
            "c_nationkey": pa.array([r[2] for r in rows], pa.int32()),
            "c_acctbal": pa.array([r[3] for r in rows], pa.float64()),
            "c_uuid": pa.array(uuids, pa.string()),
            "referred_by": pa.array([None] + keys[:-1], pa.int64()),
        }), os.path.join(out, "customer.parquet"))

        mine = set(keys)
        o = [(ok, ck, tp) for ok, ck, tp in zip(
                orders["o_orderkey"], orders["o_custkey"], orders["o_totalprice"])
             if ck in mine and (not shared(ck) or (unif(f"osplit-{seed}", ok) >= 0.5) == is_src)]
        o.sort()
        pq.write_table(pa.table({
            "o_orderkey": pa.array([r[0] for r in o], pa.int64()),
            "o_custkey": pa.array([r[1] for r in o], pa.int64()),
            "o_totalprice": pa.array([r[2] for r in o], pa.float64()),
        }), os.path.join(out, "orders.parquet"))

        order_keys = {r[0] for r in o}
        seen = set()
        li = []
        for ok, ln, pk, qty, price in zip(line["l_orderkey"], line["l_linenumber"],
                                          line["l_partkey"], line["l_quantity"],
                                          line["l_extendedprice"]):
            if ok in order_keys and (ok, ln) not in seen:
                seen.add((ok, ln))
                li.append((ok, ln, pk, qty, price))
        li.sort()
        pq.write_table(pa.table({
            "l_orderkey": pa.array([r[0] for r in li], pa.int64()),
            "l_linenumber": pa.array([r[1] for r in li], pa.int32()),
            "l_partkey": pa.array([r[2] for r in li], pa.int64()),
            "l_quantity": pa.array([r[3] for r in li], pa.float64()),
            "l_extendedprice": pa.array([r[4] for r in li], pa.float64()),
            "l_lineid": pa.array([r[0] * 8 + r[1] for r in li], pa.int64()),
        }), os.path.join(out, "lineitem.parquet"))
