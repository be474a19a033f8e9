"""Shared fixtures: one SparkSession per test run + a DuckDB oracle."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from seamless_sharepoint_etl_spark.session import get_spark

    s = get_spark("seamless-etl-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session", autouse=True)
def _remove_staged_fixture_copies(tmp_path_factory):
    """At session end, remove what the run staged from its fixture copies.

    Each fixture copy a test writes under ``tmp_path`` has its own
    ``io.fixture_token``, so every source staged from it is an
    ``io.stage_dir`` entry no later run can reuse. The finalizer walks
    the run's base temp dir for dirs holding fixture parquet and removes
    ``io.stage_dir(d, "*")`` of each: only this run's copies, never the
    shared fixtures' entries or another process's. Limit: the token is
    read at session end, so a copy that a test rewrote after staging
    from it keeps the entries of its old token.
    """
    yield
    import glob
    import shutil

    from seamless_sharepoint_etl_spark import io

    for d, dirs, files in os.walk(tmp_path_factory.getbasetemp()):
        if not {f"{t}.parquet" for t in io.TABLES} & set(dirs + files):
            continue
        for path in glob.glob(io.stage_dir(d, "*")):
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def assert_query_matches_oracle(spark, oracle, name, sf_dir=SF_DIR):
    """Mirror the driver's gate: row count + column names + value multiset.

    Columns are compared sorted by name (the driver's hash does the
    same), floats at 1e-6 granularity.
    """
    from seamless_sharepoint_etl_spark import registry

    entries = registry._collect()
    fn, sql = entries[name]
    sdf = fn(spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = sorted(
        (tuple(_norm(row[c]) for c in spark_cols) for row in sdf.collect()), key=repr
    )

    assert sql is not None, f"{name} has no oracle SQL"
    odf = oracle.sql(sql)
    oracle_cols_raw = list(odf.columns)
    # dtype-strict (round-2 verdict item 2): the driver's hasher is
    # dtype-sensitive, so value-equality alone is not enough — reject
    # HUGEINT/DECIMAL/nested representations and cross-engine kind
    # mismatches before they cost a driver green row.
    from driver_sim import dtype_violations

    viol = dtype_violations(sdf.dtypes, oracle_cols_raw, odf.types)
    assert not viol, f"{name}: dtype violations {viol}"
    order = sorted(range(len(oracle_cols_raw)), key=lambda i: oracle_cols_raw[i])
    oracle_cols = [oracle_cols_raw[i] for i in order]
    oracle_rows = sorted(
        (tuple(_norm(row[i]) for i in order) for row in odf.fetchall()), key=repr
    )

    assert spark_cols == oracle_cols, (
        f"{name}: column mismatch spark={spark_cols} oracle={oracle_cols}"
    )
    assert len(spark_rows) == len(oracle_rows), (
        f"{name}: row count spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )
    mismatches = [
        (s, o) for s, o in zip(spark_rows, oracle_rows) if s != o
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} differing rows; first 3: {mismatches[:3]}"
    )
