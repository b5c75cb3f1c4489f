"""Seeded R-MAT input generator with an on-disk parquet cache.

Every workload input is a pure function of ``(workload, seed, size)``: the
same arguments always produce byte-identical arrays, and the parquet files
are written once under ``<cache>/<workload>-s<seed>-<size tag>/`` so later
runs with the same seed skip generation. Generation always happens outside
every timed region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# R-MAT quadrant probabilities (Chakrabarti et al., the Graph500 values);
# d = 1 - a - b - c = 0.05
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19


@dataclass(frozen=True)
class GraphSize:
    scale: int  # vertex ids are 0 .. 2**scale - 1
    raw_edges: int  # R-MAT draws before dedup / loop removal

    @property
    def tag(self) -> str:
        return f"{self.scale}x{self.raw_edges}"


def rmat_edges(size: GraphSize, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Distinct, loop-free, canonical (src < dst) undirected edges, sorted.

    Vertex ids are shuffled by a seeded permutation so the R-MAT hub is not
    always vertex 0.
    """
    if size.scale > 30:
        raise ValueError("scale must be <= 30")
    rng = np.random.default_rng(seed)
    m = size.raw_edges
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for _ in range(size.scale):
        r = rng.random(m)
        src = (src << 1) | (r >= RMAT_A + RMAT_B)
        dst = (dst << 1) | (
            ((r >= RMAT_A) & (r < RMAT_A + RMAT_B)) | (r >= RMAT_A + RMAT_B + RMAT_C)
        )
    perm = rng.permutation(1 << size.scale)
    src, dst = perm[src], perm[dst]
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    loop_free = lo != hi
    key = np.unique((lo[loop_free] << size.scale) | hi[loop_free])
    return key >> size.scale, key & ((1 << size.scale) - 1)


def write_graph(path: str, size: GraphSize, seed: int, both_directions: bool) -> None:
    """Write ``vertices.parquet`` (every id) and ``edges.parquet`` to ``path``.

    With ``both_directions`` the edge file holds each canonical edge in both
    orientations (a symmetric directed edge list).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, dst = rmat_edges(size, seed)
    if both_directions:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    ids = np.arange(1 << size.scale, dtype=np.int64)
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(pa.table({"id": ids}), os.path.join(tmp, "vertices.parquet"))
    pq.write_table(
        pa.table({"src": src, "dst": dst}), os.path.join(tmp, "edges.parquet")
    )
    os.replace(tmp, path)


def cached_graph(
    cache_dir: str, workload: str, seed: int, size: GraphSize, both_directions: bool
) -> str:
    """Directory holding the parquet files for this (workload, seed, size)."""
    path = os.path.join(cache_dir, f"{workload}-s{seed}-{size.tag}")
    if not os.path.isdir(path):
        write_graph(path, size, seed, both_directions)
    return path


def read_graph(path: str) -> dict:
    """The cached arrays: ``ids``, ``src``, ``dst`` (int64)."""
    import pyarrow.parquet as pq

    v = pq.read_table(os.path.join(path, "vertices.parquet"))
    e = pq.read_table(os.path.join(path, "edges.parquet"))
    return {
        "ids": v.column("id").to_numpy(),
        "src": e.column("src").to_numpy(),
        "dst": e.column("dst").to_numpy(),
    }
