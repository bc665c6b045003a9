"""Seeded inputs: a row permutation of the vendored sf0.1 tables.

Every seed holds the same rows in the same one-file, one-row-group
layout, so a correct engine gives the oracle's answer on every seed;
only the row order, and with it partition contents and tie order,
changes with the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("documents", "embeddings")


def make_lake(seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(
            table.take(order),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=table.num_rows,
        )
    return out_dir
