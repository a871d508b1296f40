"""Seeded pass inputs derived from a read-only TPC-H-style base directory.

Every pass of a run reads its own directory, so no pass can hit a model
memo or session artifact that an earlier pass on the same files built.

* Fact tables keep about `keep` of their rows. The choice is a hash of
  (seed, pass, key): orders and lineitem both use the order key, so the
  two stay foreign-key consistent; events, documents and embeddings use
  their own ids.
* Dimension tables are kept whole.
* Every table is written in a seeded row order.

The same (seed, pass) always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow.parquet as pq

DIMENSIONS = ["region", "nation", "customer", "supplier", "part"]
FACT_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey",
             "events": "event_id", "documents": "doc_id",
             "embeddings": "vec_id"}
TABLES = DIMENSIONS + list(FACT_KEYS)

_M64 = (1 << 64) - 1


def _mix(x):
    """splitmix64 finalizer over a uint64 array (wraps mod 2**64)."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def key_hash(keys, seed, pass_no, salt):
    """Deterministic 64-bit hash of (seed, pass, salt, key) per key."""
    base = _mix(np.array([(seed * 1_000_003 + pass_no * 7919 + salt) & _M64],
                         dtype=np.uint64))[0]
    with np.errstate(over="ignore"):
        return _mix(np.asarray(keys).astype(np.uint64) ^ base)


def derive_table(table, name, seed, pass_no, keep):
    """Sample (facts) and reorder (all tables) one pyarrow table."""
    n = table.num_rows
    if name in FACT_KEYS:
        keys = table.column(FACT_KEYS[name]).to_numpy()
        # salt 1 for the keep decision, shared by orders and lineitem
        h = key_hash(keys, seed, pass_no, 1)
        mask = (h % np.uint64(1_000_000)) < np.uint64(round(keep * 1_000_000))
        table = table.filter(mask)
        n = table.num_rows
    # salt 2 for the row order: a stable sort of per-row hashes
    order = np.argsort(key_hash(np.arange(n), seed, pass_no,
                                2 + TABLES.index(name)), kind="stable")
    return table.take(order)


def generate(base, out, seed, pass_no, keep):
    """Write one pass directory; returns {table: (rows, bytes)}."""
    os.makedirs(out, exist_ok=True)
    stats = {}
    for name in TABLES:
        src = os.path.join(base, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        table = derive_table(pq.read_table(src), name, seed, pass_no, keep)
        pq.write_table(table, dst)
        stats[name] = (table.num_rows, os.path.getsize(dst))
    return stats
