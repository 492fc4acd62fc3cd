"""Seeded benchmark inputs: a row subsample of the sf0.01 tables vendored
in ``data/sf0.01``, cached per seed.

``orders`` is sampled and ``lineitem`` keeps exactly the lines of the
sampled orders, so joins on the order key stay consistent. Small dimension
tables are kept whole so every foreign key into them still resolves. Column
types are kept as read (``pyarrow`` tables are only filtered, never
converted), timestamps included.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")

SAMPLE_FRACTION = 0.8
# Tables kept whole: their keys are referenced by the sampled facts.
WHOLE_TABLES = ("region", "nation", "supplier")
SAMPLED_TABLES = ("customer", "part", "orders", "events", "documents", "embeddings")


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))


def sample_tables(seed: int, fraction: float = SAMPLE_FRACTION) -> dict[str, pa.Table]:
    """Seeded row subsample of every table; lineitem follows orders."""
    out: dict[str, pa.Table] = {name: _read(name) for name in WHOLE_TABLES}
    for name in SAMPLED_TABLES:
        t = _read(name)
        out[name] = t.filter(pa.array(_rng(seed, name).random(t.num_rows) < fraction))
    lineitem = _read("lineitem")
    out["lineitem"] = lineitem.filter(
        pc.is_in(lineitem["l_orderkey"], value_set=out["orders"]["o_orderkey"])
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def tables_digest(tables_dir: str) -> str:
    """Content digest of a derived table directory (file bytes, by name)."""
    h = hashlib.sha256()
    for fn in sorted(os.listdir(tables_dir)):
        h.update(fn.encode())
        with open(os.path.join(tables_dir, fn), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def derive(seed: int, cache_dir: str) -> str:
    """Return a directory holding the tables for ``seed``, building it once
    under ``cache_dir``."""
    out_dir = os.path.join(cache_dir, f"s{seed}", "tables")
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(sample_tables(seed), tmp)
    os.replace(tmp, out_dir)
    return out_dir
