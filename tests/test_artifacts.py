"""The session-artifact store and the one warm path bench.py and the
tools share."""

from __future__ import annotations

import json
import os
import shutil

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "seamless_sharepoint_etl_spark")


def test_warm_runs_the_bench_setup_steps_in_order(spark, tmp_path):
    """artifacts.warm performs every setup step bench.py publishes
    except the sf0.001 codegen pass, which bench.py keeps. The fixture
    is copied without its mtimes, so its token is new and every staged
    layout is written from scratch."""
    from seamless_sharepoint_etl_spark import artifacts

    sf = tmp_path / "sf0.001"
    sf.mkdir()
    for f in os.listdir("/root/testdata/sf0.001"):
        shutil.copyfile(os.path.join("/root/testdata/sf0.001", f), sf / f)

    secs = artifacts.warm(spark, str(sf))

    with open(os.path.join(_REPO, "BENCH_FULL.json")) as f:
        published = set(json.load(f)["setup"]) - {"codegen_warmup_pass_sf0.001"}
    assert set(secs) == published
    labels = list(secs)
    assert labels[0] == "jvm_and_table_warmup"
    assert labels[-len(artifacts.STAGED_QUERIES):] == [
        f"staged:{q}" for q in artifacts.STAGED_QUERIES
    ]
    assert all(s >= 0 for s in secs.values())


def test_artifact_memoizes_per_session_and_fixture(spark, tmp_path):
    """One build per (session, fixture); a regenerated fixture (new
    token, same path) rebuilds and evicts the stale entry."""
    import time

    import pandas as pd

    from seamless_sharepoint_etl_spark import artifacts

    calls = []

    @artifacts.artifact
    def rows(spark, sf_dir, tag):
        calls.append(tag)
        return spark.read.parquet(os.path.join(sf_dir, "region.parquet")).persist()

    def write(n):
        pd.DataFrame(
            {"r_regionkey": range(n), "r_name": ["r"] * n, "r_comment": ["c"] * n}
        ).to_parquet(tmp_path / "region.parquet")

    write(2)
    first = rows(spark, str(tmp_path), "a")
    assert rows(spark, str(tmp_path) + "/", "a") is first
    assert rows(spark, str(tmp_path), "b") is not first
    assert calls == ["a", "b"]

    time.sleep(0.02)  # ensure a distinct mtime_ns
    write(3)
    assert rows(spark, str(tmp_path), "a").count() == 3
    assert not first.is_cached, "the stale entry was not unpersisted"
    assert all(f is not first for f in artifacts.frames())


def test_publish_always_is_a_subset_of_headline():
    import bench

    assert set(bench.PUBLISH_ALWAYS) <= set(bench.HEADLINE)


def test_bench_rejects_a_fixture_name_before_starting_a_session(monkeypatch):
    """bench.py reads the scale factor from the dir name; a dir named
    like the tools' defaults (``sf_perturb``) must fail at once, not
    after setup and every timed pass."""
    import pytest

    import bench
    from seamless_sharepoint_etl_spark import session

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "fixtures/sf_perturb")
    monkeypatch.setattr(
        session, "get_spark", lambda *a: pytest.fail("session started")
    )
    with pytest.raises(ValueError):
        bench.main()


def test_only_the_store_keys_on_the_application_id():
    """Session scoping lives in one place: a module that keys its own
    cache on applicationId bypasses the store's fixture-token eviction."""
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(_PKG, "artifacts.py"):
                continue
            with open(path) as fh:
                if "applicationId" in fh.read():
                    offenders.append(os.path.relpath(path, _REPO))
    assert not offenders, f"applicationId outside artifacts.py: {offenders}"
