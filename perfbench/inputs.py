"""Seeded input generator: the only data the engine receives.

Writes four key tables shaped like the TPC-H tables the engine reads. The
engine derives every image, point, polygon and query point from these keys in
closed form (aira_spark.sources.images / sources.vectors, and the matching
DuckDB oracle text in __spark_entry__).

  part.p_partkey      one image per key. Keys are 420*r + j with every
                      residue j in [0, 420) used equally, so each seed gets
                      the same mix of the 12 TIFF variants (k % 12) and the
                      same image sizes (k % 7, k % 5); only footprints move.
  customer.c_custkey  one point per key; a `hot_share` fraction of keys is
                      = 0 mod 5, which the engine places in one hot cell.
  nation.n_nationkey  one star-octagon polygon per key.
  supplier.s_suppkey  one query point per key (kNN / distance band).

Keys stay below 10^8: image ids are zero-padded to 8 digits on both engines.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_LIMIT = 10**8
RESIDUES = 420  # lcm(12, 7, 5): variant, width and height classes


@dataclass(frozen=True)
class Sizes:
    images: int
    points: int
    hot_share: float
    polygons: int
    query_points: int


def _distinct(rng: np.random.Generator, limit: int, n: int) -> np.ndarray:
    if n > limit:
        raise ValueError(f"cannot draw {n} distinct keys below {limit}")
    return rng.choice(limit, size=n, replace=False).astype(np.int64)


def part_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    rounds = -(-n // RESIDUES)
    r = _distinct(rng, KEY_LIMIT // RESIDUES - 1, rounds)
    keys = (RESIDUES * (r[:, None] + 1) + np.arange(RESIDUES)[None, :]).ravel()
    return np.sort(keys[:n])


def customer_keys(rng: np.random.Generator, n: int, hot_share: float) -> np.ndarray:
    n_hot = int(round(hot_share * n))
    m = _distinct(rng, KEY_LIMIT // 5 - 1, n) + 1
    resid = np.concatenate(
        [np.zeros(n_hot, dtype=np.int64), rng.integers(1, 5, size=n - n_hot)]
    )
    return np.sort(5 * m + resid)


def generate(seed: int, out_dir: str, sizes: Sizes) -> dict[str, str]:
    """Write the four tables as parquet under out_dir; returns name -> path."""
    rng = np.random.default_rng(seed)
    cols = {
        "part": ("p_partkey", part_keys(rng, sizes.images)),
        "customer": ("c_custkey", customer_keys(rng, sizes.points, sizes.hot_share)),
        "nation": ("n_nationkey", np.sort(_distinct(rng, 10**6, sizes.polygons))),
        "supplier": ("s_suppkey", np.sort(_distinct(rng, 10**7, sizes.query_points) + 1)),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for table, (col, keys) in cols.items():
        path = os.path.join(out_dir, f"{table}.parquet")
        pq.write_table(pa.table({col: keys}), path)
        paths[table] = path
    return paths


def table_digests(paths: dict[str, str]) -> dict[str, str]:
    """sha256 of each table's key column, in stored order."""
    out = {}
    for table, path in sorted(paths.items()):
        t = pq.read_table(path)
        out[table] = hashlib.sha256(
            t.column(0).to_numpy().astype("<i8").tobytes()
        ).hexdigest()
    return out
