"""Seeded input generator.

Dense vectors come from a Gaussian mixture (so IVF clustering has real
structure and exact-score ties are rare), payload is typed (keyword, int,
float) and sparse vectors use a stratified vocabulary so every row has
unique, sorted indices. Everything is a function of the seed; the library
only ever sees the parquet files and request dicts built here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATS = np.array(["alpha", "beta", "gamma", "delta",
                 "epsilon", "zeta", "eta", "theta"])
N_TENANTS = 20
PRICE_MAX = 100.0


class Mixture:
    """Gaussian mixture in ``dim`` dimensions with ``components`` unit-scale
    centres and isotropic noise of std ``spread``."""

    def __init__(self, seed: int, dim: int, components: int, spread: float):
        rng = np.random.default_rng([seed, 7])
        self.dim = dim
        self.centres = rng.standard_normal((components, dim)).astype(np.float32)
        self.spread = spread

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        lab = rng.integers(0, len(self.centres), n)
        noise = rng.standard_normal((n, self.dim)).astype(np.float32)
        return self.centres[lab] + np.float32(self.spread) * noise


def list_array(m: np.ndarray) -> pa.ListArray:
    """(n, d) matrix -> Arrow list<element> column without per-row objects."""
    n, d = m.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(m.ravel()))


def sparse_rows(rng: np.random.Generator, n: int, vocab: int,
                nnz: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, nnz) int32 indices, one per vocabulary stratum (unique and
    ascending within a row), and (n, nnz) float32 positive weights."""
    width = vocab // nnz
    idx = (np.arange(nnz, dtype=np.int32) * width
           + rng.integers(0, width, (n, nnz)).astype(np.int32))
    val = (0.1 + rng.random((n, nnz))).astype(np.float32)
    return idx, val


def sparse_array(idx: np.ndarray, val: np.ndarray) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        [list_array(idx), list_array(val)], names=["indices", "values"])


def write_files(table: pa.Table, path: str, files: int) -> int:
    """Write ``table`` as ``files`` parquet files of one row group each
    (at least one file per core, so the file layout never caps scan
    parallelism). Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    total = 0
    for f in range(files):
        lo, hi = f * n // files, (f + 1) * n // files
        out = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), out, row_group_size=hi - lo + 1)
        total += os.path.getsize(out)
    return total


def payload_columns(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {
        "cat": CATS[rng.integers(0, len(CATS), n)],
        "tenant": rng.integers(0, N_TENANTS, n).astype(np.int64),
        "price": rng.random(n) * PRICE_MAX,
    }
