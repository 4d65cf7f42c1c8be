"""Seeded change-batch generator for the lakehouse benchmark's
`cdc_merge` workload.

Writes a series of change batches against `orders`: each batch mixes
updates, inserts and deletes, keys skew toward recent (high) order keys,
and some keys repeat inside a batch. It also writes the expected
live-row state after every batch, which the benchmark uses to check each
read that follows a merge. The same seed always gives the same batches.
The base tables are the fixed fixtures under perfbench/data.

Usage:
    python3 gen.py <out_dir> --seed N --base <orders.parquet> --batches B --rows R
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z

STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def orders_table(rng, n, n_cust):
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(STATUS, n)),
        "o_totalprice": pa.array(cents(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": ts(EPOCH_1995_US + rng.integers(0, 2405, n) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, n)),
    }


# Change-batch mix: shares of updates, inserts and deletes, the share of
# rows that repeat a key already in the same batch, and the mean distance
# (in keys) below the newest order that updates and deletes land at.
MIX = {"update": 0.60, "insert": 0.25, "delete": 0.15, "repeat": 0.10,
       "recent_mean_keys": 1500}


def gen_cdc(out_dir, seed, base_path, n_batches, n_rows):
    """Writes batch_NNNN.parquet files (orders columns + `op` + `seq`) and
    expected.json: the live-row count per o_orderstatus after each batch.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    base = pq.read_table(base_path)
    status = dict(zip(base["o_orderkey"].to_numpy().tolist(),
                      base["o_orderstatus"].to_pylist()))
    n_cust = int(base["o_custkey"].to_numpy().max()) + 1
    next_key = max(status) + 1
    seq = 1
    expected = []
    for b in range(n_batches):
        n_new = int(round(n_rows * MIX["insert"]))
        n_rep = int(round(n_rows * MIX["repeat"]))
        n_old = n_rows - n_new - n_rep
        dist = np.floor(rng.exponential(MIX["recent_mean_keys"], n_old))
        old = np.maximum(0, next_key - 1 - dist.astype(np.int64))
        new = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
        first = np.concatenate([old, new])
        keys = np.concatenate([first, rng.choice(first, n_rep)])
        ops = np.where(np.arange(len(keys)) < n_old, "u", "i").astype(object)
        ops[:n_old][rng.random(n_old) < MIX["delete"] / (
            MIX["update"] + MIX["delete"])] = "d"
        # a repeated key is a later change to the same order: update or
        # delete, applied after the batch's first change to that key
        ops[n_old + n_new:] = np.where(rng.random(n_rep) < 0.75, "u", "d")
        order = np.concatenate([rng.permutation(n_old + n_new),
                                np.arange(n_old + n_new, len(keys))])
        keys, ops = keys[order], ops[order]
        t = orders_table(rng, len(keys), n_cust)
        t["o_orderkey"] = pa.array(keys)
        t["op"] = pa.array(ops.tolist())
        t["seq"] = pa.array(np.arange(seq, seq + len(keys), dtype=np.int64))
        seq += len(keys)
        pq.write_table(pa.table(t),
                       os.path.join(out_dir, f"batch_{b:04d}.parquet"))
        for k, op, st in zip(keys.tolist(), ops.tolist(),
                             t["o_orderstatus"].to_pylist()):
            if op == "d":
                status.pop(k, None)
            else:
                status[k] = st
        counts = {}
        for st in status.values():
            counts[st] = counts.get(st, 0) + 1
        expected.append(counts)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump({"mix": MIX, "rows_per_batch": n_rows,
                   "status_counts": expected}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--base", required=True)
    ap.add_argument("--batches", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    a = ap.parse_args()
    gen_cdc(a.out_dir, a.seed, a.base, a.batches, a.rows)


if __name__ == "__main__":
    main()
