"""Self-tests of the benchmark; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.common import load_spec, op_count  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_inputs_are_deterministic(tmp_path):
    tables = ("customer", "orders", "documents")
    files = {"orders": 3}
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = inputs.prepare(str(a), 7, tables, files)
    assert inputs.prepare(str(b), 7, tables, files) == rows
    assert _digest(str(a)) == _digest(str(b))
    inputs.prepare(str(c), 8, tables, files)
    assert _digest(str(a)) != _digest(str(c))
    assert len(os.listdir(a / "orders.parquet")) == 3


def test_split_tables_keep_every_row_once(tmp_path):
    import pyarrow.parquet as pq

    inputs.prepare(str(tmp_path), 3, ("orders",), {"orders": 4})
    got = pq.read_table(str(tmp_path / "orders.parquet")).column("o_orderkey")
    want = pq.read_table(os.path.join(inputs.FIXTURE, "orders.parquet"))
    assert sorted(got.to_pylist()) == sorted(want.column("o_orderkey").to_pylist())


def test_fixture_holds_every_engine_table():
    from seamless_sharepoint_etl_spark import io

    assert set(inputs.TABLES) == set(io.TABLES)
    for t in inputs.TABLES:
        assert os.path.isfile(os.path.join(inputs.FIXTURE, f"{t}.parquet")), t


def test_op_count_depends_on_seconds_only():
    assert op_count(6, 2.0, 3) == 3
    assert op_count(1, 2.0, 3) == 3
    assert op_count(10, 2.0, 3) == 5


def test_metric_and_workload_names():
    bench = _bench()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n


def test_setup_metric_has_the_largest_bound():
    e2e = {m["name"]: m for m in _bench()["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(m["bound"] <= 0.25 for m in e2e.values())


def test_every_per_layer_metric_is_mapped():
    spec = load_spec()
    workloads = {w["name"] for w in _bench()["workloads"]}
    e2e = {m["name"] for m in _bench()["end_to_end"]}
    per_layer = [m["name"] for m in _bench()["per_layer"]]
    assert set(spec["metric_map"]) == set(per_layer)
    for target in spec["metric_map"].values():
        assert target["moves"] in e2e
        assert target["workload"] in workloads | {"all"}
    assert set(spec["workloads"]) == workloads


def test_frozen_list_names_registry_queries_by_module():
    from seamless_sharepoint_etl_spark import registry

    queries = registry.queries()
    spec = load_spec()
    for q in list(spec["queries"]) + [
        {"query": k, **v} for k, v in spec["queries_left_out"]["queries"].items()
    ]:
        fn = queries[q["query"]]
        assert fn.__module__ == f"seamless_sharepoint_etl_spark.{q['module']}", q
        assert not q["module"].startswith("pipelines")


def test_frozen_list_covers_every_module_outside_pipelines():
    """Each registry module outside pipelines has its query listed or left out by name."""
    from seamless_sharepoint_etl_spark import registry

    prefix = "seamless_sharepoint_etl_spark."
    registry_modules = {
        fn.__module__[len(prefix):]
        for fn in registry.queries().values()
        if not fn.__module__.endswith("pipelines")
    }
    spec = load_spec()
    listed = {q["query"] for q in spec["queries"]}
    left_out = set(spec["queries_left_out"]["queries"])
    assert not listed & left_out
    headline = {
        q["module"] for q in spec["queries"] if q["chosen_as"] == "headline"
    } | {q["module"] for q in spec["queries_left_out"]["queries"].values()}
    assert headline == registry_modules
    packages = {m.split(".")[0] for m in registry_modules}
    assert packages == {q["module"].split(".")[0] for q in spec["queries"]}, (
        "every package is measured"
    )


def test_every_listed_module_has_a_wall_metric():
    spec = load_spec()
    for q in spec["queries"]:
        assert f"{q['module']}.wall_s" in spec["metric_map"], q
