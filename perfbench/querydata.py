"""Seeded tables for query_mix: the sf0.01 tables TESTDATA.md describes,
kept unchanged under perfbench/data/sf0.01, each written with its rows in
an order the seed permutes. Values, schema and parquet encoding are the
originals', so every query sees the real row counts, text lengths and
key distributions; only row order depends on the seed."""
import os

import numpy as np
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = sorted(f[:-len(".parquet")] for f in os.listdir(SOURCE) if f.endswith(".parquet"))


def ensure(out_dir, seed):
    """Write the permuted tables once; a set without its _SUCCESS marker
    or with a table missing is rewritten."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done) and all(
            os.path.isfile(os.path.join(out_dir, f"{n}.parquet")) for n in TABLES):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        t = pq.read_table(os.path.join(SOURCE, f"{name}.parquet"))
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir
