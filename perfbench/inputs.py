"""The workloads' input tables: the engine's sf0.01 fixture, laid out per seed.

``fixture/sf0.01`` is a byte-for-byte copy of the deterministic
sf0.01 test fixture the engine's correctness suite runs on (ten
tables, one parquet file each: 15,000 orders, 60,000 line items,
10,000 events, 500 documents, 500 embeddings). The rows never change
with the seed. What the seed changes is the physical layout of the
tables a workload asks to split: their rows are permuted and dealt
round-robin into part files, as if the source had been written by that
many parallel writers. Relational results depend only on the set of
rows, so every output check holds for every seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def prepare(
    out_dir: str,
    seed: int,
    tables: tuple[str, ...] = TABLES,
    files: dict[str, int] | None = None,
) -> dict[str, int]:
    """Write ``tables`` under ``out_dir`` as ``<name>.parquet``.

    ``files`` maps a table to a part-file count: such a table becomes a
    directory of that many files holding a seeded permutation of its
    rows. Every other table is copied unchanged. The same seed always
    yields byte-identical files. Returns the row count of each table.
    """
    files = files or {}
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        src = os.path.join(FIXTURE, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        k = files.get(name, 1)
        if k == 1:
            shutil.copyfile(src, dst)
            rows[name] = pq.ParquetFile(src).metadata.num_rows
            continue
        tbl = pq.read_table(src)
        rng = np.random.default_rng([seed, TABLES.index(name)])
        perm = rng.permutation(tbl.num_rows)
        os.makedirs(dst)
        for i in range(k):
            pq.write_table(
                tbl.take(pa.array(perm[i::k])),
                os.path.join(dst, f"part-{i:05d}.parquet"),
            )
        rows[name] = tbl.num_rows
    return rows
