"""Seeded benchmark inputs.

The base tables in ``data/sf0.01`` are a verbatim copy of the engine's
sf0.01 fixture set (TPC-H-ish star schema, ``events``, ``documents``,
``embeddings``). A seed turns them into one input directory by keeping a
seeded share of the fact-side keys:

- ``orders`` by order key, and ``lineitem`` rows of the kept orders;
- ``events`` by user id;
- ``documents`` and ``embeddings`` by the shared document id, so the
  ``doc_id = vec_id`` join keeps whole pairs.

Dimension tables are copied unchanged, so every foreign key still
resolves. The same (seed, share) always gives byte-identical tables, and
every seed gives nearly the same row counts, so run-to-run work stays
level while the rows differ.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# table -> key column sampled on (None: copied whole)
SAMPLED_ON = {
    "region": None,
    "nation": None,
    "customer": None,
    "supplier": None,
    "part": None,
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _unit_hash(keys: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of (key, seed) mapped to [0, 1)."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def keep_mask(keys, seed: int, share: float) -> pa.Array:
    return pa.array(_unit_hash(np.asarray(keys, dtype=np.int64), seed) < share)


def derive(seed: int, share: float, out_dir: str) -> str:
    """Write the seeded input tables to ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, key in SAMPLED_ON.items():
        table = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        if key is not None:
            keys = table.column(key).to_numpy()
            table = table.filter(keep_mask(keys, seed, share))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
