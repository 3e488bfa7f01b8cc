"""Seeded input lake for the benchmark.

The sources under ``perfbench/source/<scale>/`` are byte copies of the
engine's committed synthetic testdata (one parquet file per table).  A
seed permutes the row order of every table; nothing else changes.  Each
derived table is written as ONE parquet file with the source's Arrow
schema (timestamp units included) and one row group, so Spark still sees
the single-split layout the engine's ``spread`` calls react to.

Derived lakes are cached per (scale, seed) under ``.perfbench/lakes/`` in
the checkout: the same seed always gives byte-identical files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_ROOT = os.path.join(HERE, "source")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
#: derived lakes kept on disk; older ones are pruned
KEEP_LAKES = 8
_DONE = "_COMPLETE"


def source_dir(scale: str) -> str:
    path = os.path.join(SOURCE_ROOT, scale)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no source lake for scale {scale!r} at {path}")
    return path


def write_permuted(src: str, dst: str, seed: int, table_no: int) -> None:
    """Write ``src`` to ``dst`` with its rows in a seed-determined order."""
    source = pq.ParquetFile(src)
    table = source.read()
    rng = np.random.default_rng([seed, table_no])
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(
        table,
        dst,
        version=source.metadata.format_version,
        row_group_size=max(1, table.num_rows),
        coerce_timestamps=None,
    )
    written = pq.ParquetFile(dst)
    if not written.schema_arrow.equals(source.schema_arrow, check_metadata=True):
        raise RuntimeError(f"{dst}: schema drifted from {src}")
    if not written.schema.equals(source.schema):
        raise RuntimeError(f"{dst}: parquet physical schema drifted from {src}")


def derive(cache_root: str, scale: str, seed: int) -> str:
    """Return the directory of the seeded lake, building it on first use."""
    src = source_dir(scale)
    lake = os.path.join(cache_root, f"{scale}-seed{seed}")
    if os.path.exists(os.path.join(lake, _DONE)):
        os.utime(lake)
        return lake
    tmp = f"{lake}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, name in enumerate(TABLES):
        write_permuted(
            os.path.join(src, f"{name}.parquet"), os.path.join(tmp, f"{name}.parquet"), seed, i
        )
    open(os.path.join(tmp, _DONE), "w").close()
    shutil.rmtree(lake, ignore_errors=True)
    os.rename(tmp, lake)
    _prune(cache_root, keep=lake)
    return lake


def _prune(cache_root: str, keep: str) -> None:
    lakes = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if os.path.exists(os.path.join(cache_root, d, _DONE))
    ]
    lakes.sort(key=os.path.getmtime, reverse=True)
    for old in lakes[KEEP_LAKES:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)
