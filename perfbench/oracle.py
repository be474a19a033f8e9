"""DuckDB over the input tables, and an order-insensitive result hash."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


def parquet_source(data_dir: str, table: str) -> str:
    path = os.path.join(data_dir, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table."""
    con = duckdb.connect()
    for t in tables:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{parquet_source(data_dir, t)}')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6) + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_hash(columns, rows) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, hash of the row multiset).

    Columns are taken in name order and rows are sorted, so the hash
    ignores both column and row order; floats count to 1e-6.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(normed).encode()).hexdigest()
    return tuple(columns[i] for i in order), len(normed), h
