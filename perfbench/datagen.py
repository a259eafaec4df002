"""Deterministic input of the ann_index workload: the ``embeddings`` table.

Writes it as one parquet file with the schema and value domain of the
engine's test table: ``vec_id`` (int64), ``embedding`` (unit-norm
64-dimensional float32 vectors drawn around ten cluster centres) and
``label`` (int32, the centre).

The generator is seeded and pure numpy/pyarrow, so the same ``(seed, scale)``
always writes a byte-identical file.  ``scale`` follows the test tables'
scale factor: 0.01 gives 500 embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated content changes; cached data with another
#: version is regenerated
VERSION = "perfbench-data-v2"

TABLES = ("embeddings",)

DIM = 64


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Every input table as an Arrow table, seeded by ``seed``."""
    rs = np.random.RandomState(seed)
    n_emb = max(20, int(50_000 * scale))
    labels = rs.randint(0, 10, n_emb)
    centers = rs.normal(0.0, 1.0, (10, DIM))
    vecs = rs.normal(0.0, 1.0, (n_emb, DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return {"embeddings": pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})}


def ensure(root: str, seed: int, scale: float) -> str:
    """Write the tables under ``root`` unless this exact version is there;
    returns the directory the declared queries read (``sf_dir``)."""
    tag = f"{VERSION} seed={seed} scale={scale}"
    marker = os.path.join(root, ".version")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == tag:
                return root
    os.makedirs(root, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(tag)
    return root
