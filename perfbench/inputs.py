"""Seeded input generator.

Each seed gives a directory holding every fixture table with its rows in
a seeded random order. A table keeps its schema (``events.ts`` included),
its single row group and its one file, so the engine reads the copy
exactly as it reads the fixture. Queries are order-insensitive, so the
results do not depend on the seed; the input layout the engine sees
does.

Generated directories are cached under the work directory, keyed by the
seed and by a fingerprint of the source tables (resolved path, size and
mtime of each), so a changed or different fixture is never answered from
a stale copy. They are written atomically, so an interrupted run never
leaves half a seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from project_orbit_spark.catalog import TABLES

_DONE = ".complete"


def permute_table(src: Path, dst: Path, seed: int, salt: int) -> None:
    """Write ``src`` to ``dst`` with its rows permuted by (seed, salt)."""
    meta = pq.ParquetFile(src).metadata
    table = pq.read_table(src)
    perm = np.random.default_rng([seed, salt]).permutation(table.num_rows)
    pq.write_table(
        table.take(perm),
        dst,
        row_group_size=max(1, table.num_rows),
        compression="snappy",
        version=meta.format_version,
    )


def source_key(src_dir: Path) -> str:
    """A short fingerprint of the source tables: path, size and mtime."""
    h = hashlib.sha256()
    for name in TABLES:
        path = (src_dir / f"{name}.parquet").resolve()
        st = path.stat()
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:12]


def generate(src_dir: Path, cache_dir: Path, seed: int) -> Path:
    """The input directory for ``seed`` over ``src_dir``, generated on first use."""
    key = f"seed{seed}-{source_key(src_dir)}"
    out = cache_dir / key
    if (out / _DONE).exists():
        return out
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = cache_dir / f".{key}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    for salt, name in enumerate(TABLES):
        permute_table(src_dir / f"{name}.parquet", tmp / f"{name}.parquet", seed, salt)
    (tmp / _DONE).touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def input_bytes(data_dir: Path) -> int:
    return sum((data_dir / f"{name}.parquet").stat().st_size for name in TABLES)


def input_rows(data_dir: Path) -> int:
    return sum(pq.ParquetFile(data_dir / f"{name}.parquet").metadata.num_rows for name in TABLES)
