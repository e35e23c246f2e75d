#!/usr/bin/env python3
"""Seeded benchmark inputs: row-permuted copies of the reference tables.

`perfbench/data/sf0.01` holds the reference test tables at scale 0.01,
the ten tables the library reads (`Tables.names`), exactly as the
repository's DuckDB correctness check uses them. For a seed, every table
is written again with its rows in an order drawn from
`numpy.random.default_rng(seed)`: same rows, same schema (with its
metadata), same physical column types and compression, one row group
per file, like the originals. No query may lean on the physical order
of its input, so every seed must give the same results. Seed 0 is the
reference files unchanged.

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def permute(src, dst, rng):
    """Write src's rows to dst in a random order, keeping its layout."""
    meta = pq.ParquetFile(src).metadata
    table = pq.read_table(src)
    table = table.take(rng.permutation(table.num_rows))
    col = meta.row_group(0).column(0)
    pq.write_table(table, dst, row_group_size=max(1, table.num_rows),
                   compression=col.compression.lower(),
                   version=meta.format_version)


def generate(out_dir, seed):
    """Write every table under out_dir; skip if a complete copy exists."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        src = os.path.join(REFERENCE, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if seed == 0:
            shutil.copyfile(src, dst)
        else:
            permute(src, dst, rng)
    open(done, "w").close()
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]))
