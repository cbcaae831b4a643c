"""Seeded input generation for the benchmark.

The program under test receives only the parquet files written here; every
workload input is a pure function of ``(seed, size)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Graph500 R-MAT quadrant probabilities a, b, c (d = 1 - a - b - c = 0.05).
RMAT_ABC = (0.57, 0.19, 0.19)
# Row groups per file, so the Spark scan splits each file across cores.
ROW_GROUPS = 8


def _write(path: str, columns: dict[str, np.ndarray]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(columns)
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // ROW_GROUPS)))
    return table.num_rows


def rmat_edges(seed: int, scale: int, edge_factor: int) -> tuple[np.ndarray, np.ndarray]:
    """Raw R-MAT multigraph: ``edge_factor << scale`` directed rows over
    ``1 << scale`` vertices, duplicates and self-loops kept."""
    rng = np.random.default_rng(seed)
    n = edge_factor << scale
    a, b, c = RMAT_ABC
    src = np.zeros(n, dtype=np.int64)
    dst = np.zeros(n, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(n)
        src |= (r >= a + b).astype(np.int64) << bit
        dst |= ((r >= a) & (r < a + b) | (r >= a + b + c)).astype(np.int64) << bit
    return src, dst


def write_rmat(path: str, seed: int, scale: int, edge_factor: int) -> int:
    src, dst = rmat_edges(seed, scale, edge_factor)
    return _write(path, {"src": src, "dst": dst})


def lineitem_keys(seed: int, sf: float) -> tuple[np.ndarray, np.ndarray]:
    """TPC-H-shaped ``(l_orderkey, l_partkey)``: ``1.5M·sf`` orders of 1–7
    lines each, part keys uniform over ``200k·sf`` parts."""
    rng = np.random.default_rng(seed)
    n_orders = max(1, int(1_500_000 * sf))
    n_parts = max(2, int(200_000 * sf))
    lines = rng.integers(1, 8, size=n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    partkey = rng.integers(1, n_parts + 1, size=len(orderkey), dtype=np.int64)
    return orderkey, partkey


def write_lineitem(sf_dir: str, seed: int, sf: float) -> int:
    """Write ``<sf_dir>/lineitem.parquet`` in the layout ``copart_graph`` reads."""
    orderkey, partkey = lineitem_keys(seed, sf)
    return _write(
        os.path.join(sf_dir, "lineitem.parquet"),
        {"l_orderkey": orderkey, "l_partkey": partkey},
    )
