"""Reference-parity semantics of the incremental ETL (SURVEY.md §2 A1-A11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def _assert_manifest_matches_spark(spark, root, version=None, recorded=True):
    """The manifest's stored ``rows`` and recorded schema equal what
    Spark counts and infers from the snapshot's files. ``recorded``
    says whether the sink has a ``SCHEMA`` file (sinks started before
    it existed have none)."""
    import json
    import os

    from seamless_sharepoint_etl_spark import sinks

    mdir = os.path.join(root, "_manifest")
    if version is None:
        with open(os.path.join(mdir, "LATEST")) as fh:
            vname = fh.read().strip()
    else:
        vname = f"v{version:06d}.json"
    with open(os.path.join(mdir, vname)) as fh:
        snap = json.load(fh)
    df = sinks.read_snapshot(spark, root, version=version)
    assert snap["rows"] == df.count()
    paths = [os.path.join(root, f) for f in snap["files"]]
    assert df.schema == spark.read.parquet(*paths).schema
    assert os.path.exists(os.path.join(mdir, "SCHEMA")) == recorded


def test_watermark_frontier_strictness(spark):
    """Every loaded row is strictly beyond the sink watermark (A4/A11)."""
    from seamless_sharepoint_etl_spark import io, pipelines

    sink = io.sharepoint_rows(spark, SF_DIR)
    wm = sink.agg(F.max("po_number")).first()[0]
    fresh = pipelines.incremental_load(spark, SF_DIR)
    assert fresh.filter(F.col("po_number") <= wm).count() == 0
    # union of sink + fresh covers the whole source exactly once
    items_n = io.seamless_items(spark, SF_DIR).count()
    assert sink.count() + fresh.count() == items_n


def test_rerun_idempotence(spark, tmp_path):
    """Re-running the same frontier does not duplicate rows (A11, §7.3#5)."""
    from seamless_sharepoint_etl_spark import pipelines

    from seamless_sharepoint_etl_spark import sinks

    out = str(tmp_path / "sink")
    n1 = pipelines.run_incremental_append(spark, SF_DIR, out)
    n2 = pipelines.run_incremental_append(spark, SF_DIR, out)
    assert n1 == n2
    assert sinks.read_snapshot(spark, out).count() == n1
    assert len(sinks.committed_txns(out)) == 1  # one txn, not two


def test_routing_split_covers_everything(spark):
    """A12: the two routes partition the source exactly."""
    from seamless_sharepoint_etl_spark import io, pipelines

    routed = pipelines.routed(spark, SF_DIR)
    total = io.seamless_items(spark, SF_DIR).count()
    by_route = dict(
        routed.groupBy("route").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert sum(by_route.values()) == total
    assert set(by_route) <= {"over_1500", "under_1500"}


def test_routed_write_single_pass(spark, tmp_path):
    from seamless_sharepoint_etl_spark import pipelines

    out = str(tmp_path / "routed")
    counts = pipelines.write_routed(spark, SF_DIR, out)
    written = spark.read.parquet(out)
    assert written.count() == sum(counts.values())
    assert set(r["route"] for r in written.select("route").distinct().collect()) == set(
        counts
    )


def test_routed_write_partition_pruning(spark, tmp_path):
    """The $1500 split written with partitionBy(route) prunes at read:
    a route predicate becomes a PartitionFilter (directory skip), never
    a data filter — the physical evidence that the A12 split scales."""
    from seamless_sharepoint_etl_spark import pipelines

    out = str(tmp_path / "routed")
    counts = pipelines.write_routed(spark, SF_DIR, out)
    assert set(counts) == {"over_1500", "under_1500"}

    back = spark.read.parquet(out).filter("route = 'over_1500'")
    assert back.count() == counts["over_1500"]
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(route" in plan, plan
    # the route predicate must NOT appear as a pushed data filter —
    # it's resolved at directory level
    assert "PushedFilters: []" in plan, plan


def test_manifest_sink_crash_between_write_and_commit(spark, tmp_path, monkeypatch):
    """Kill-point test (SURVEY §7.3#5): a crash AFTER the distributed
    data write but BEFORE the manifest flip must leave the sink
    logically unchanged — readers never see the half-committed batch,
    and vacuum sweeps the orphan files."""
    import os

    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "sink")
    base = io.load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    sinks.commit_append(base.limit(5), root, txn_id="t1")
    before = sinks.read_snapshot(spark, root).count()
    assert before == 5

    # crash injection: os.replace is THE commit point — die just before
    real_replace = os.replace

    def boom(src, dst):
        if os.path.basename(dst) == "LATEST":
            raise RuntimeError("simulated crash before manifest flip")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    try:
        sinks.commit_append(base.limit(9), root, txn_id="t2")
        raise AssertionError("crash injection did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)

    # reader still sees exactly the pre-crash snapshot
    assert sinks.read_snapshot(spark, root).count() == before
    assert sinks.committed_txns(root) == {"t1"}
    # the orphaned txn-t2 data files exist on disk but are invisible;
    # vacuum removes them and never touches committed files
    orphans = sinks.vacuum(root)
    assert orphans and all("txn-t2" in p for p in orphans)
    assert sinks.read_snapshot(spark, root).count() == before

    # the recovered writer retries the SAME txn id → lands exactly once
    sinks.commit_append(base.limit(9), root, txn_id="t2")
    assert sinks.read_snapshot(spark, root).count() == before + 9
    sinks.commit_append(base.limit(9), root, txn_id="t2")  # duplicate retry
    assert sinks.read_snapshot(spark, root).count() == before + 9


def test_manifest_sink_exactly_once_retry(spark, tmp_path):
    """Re-committing an already-committed txn id is a durable no-op."""
    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "sink")
    base = io.load_table(spark, SF_DIR, "region")
    s1 = sinks.commit_append(base, root, txn_id="batch-1")
    s2 = sinks.commit_append(base, root, txn_id="batch-1")
    assert s1["version"] == s2["version"] == 1
    assert sinks.read_snapshot(spark, root).count() == base.count()


def test_sink_time_travel_reads_past_snapshots(spark, tmp_path):
    """Every committed version stays readable by number until vacuum;
    vacuum then keeps only the latest snapshot's files (Delta-style
    retention tradeoff, documented in read_snapshot)."""
    import pytest as _pytest

    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "tt_sink")
    base = io.load_table(spark, SF_DIR, "orders").select("o_orderkey")
    sinks.commit_append(base.limit(3), root, txn_id="t1")
    sinks.commit_append(base.limit(5), root, txn_id="t2")
    sinks.commit_append(base.limit(7), root, txn_id="t3")

    assert sinks.read_snapshot(spark, root, version=1).count() == 3
    assert sinks.read_snapshot(spark, root, version=2).count() == 3 + 5
    assert sinks.read_snapshot(spark, root).count() == 3 + 5 + 7
    for v in (1, 2, 3):
        _assert_manifest_matches_spark(spark, root, version=v)
    with _pytest.raises(ValueError):
        sinks.read_snapshot(spark, root, version=9)

    # vacuum keeps only LATEST's files — history remains listed in old
    # manifests but their data is gone; latest is untouched
    assert sinks.vacuum(root) == []  # all files still referenced by LATEST
    assert sinks.read_snapshot(spark, root).count() == 15


def test_commit_upsert_file_granular_copy_on_write(spark, tmp_path):
    """commit_upsert rewrites ONLY files containing incoming keys: an
    upsert whose keys live in txn-2's file leaves txn-1's file
    referenced untouched in the new manifest, matched rows are
    replaced, new keys inserted, and a txn retry is a no-op."""
    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "upsink")
    a = spark.range(0, 5).selectExpr("id AS k", "CAST(0 AS LONG) AS v").coalesce(1)
    b = spark.range(10, 15).selectExpr("id AS k", "CAST(0 AS LONG) AS v").coalesce(1)
    sinks.commit_append(a, root, txn_id="t1")
    snap1_files = set(sinks.commit_append(b, root, txn_id="t2")["files"])
    t1_files = {f for f in snap1_files if "txn-t1" in f}
    assert t1_files

    up = spark.createDataFrame([(10, 99), (100, 7)], ["k", "v"]).coalesce(1)
    snap2 = sinks.commit_upsert(spark, up, root, ["k"], txn_id="t3")
    # txn-1's file (keys 0-4, untouched) carries over by reference;
    # txn-2's file (contains k=10) was rewritten
    assert t1_files <= set(snap2["files"])
    assert not any("txn-t2" in f for f in snap2["files"])

    rows = {
        (r["k"], r["v"]) for r in sinks.read_snapshot(spark, root).collect()
    }
    want = {(i, 0) for i in range(5)} | {(i, 0) for i in (11, 12, 13, 14)} | {
        (10, 99),
        (100, 7),
    }
    assert rows == want
    assert snap2["rows"] == len(want)
    _assert_manifest_matches_spark(spark, root)

    again = sinks.commit_upsert(spark, up, root, ["k"], txn_id="t3")
    assert again["version"] == snap2["version"]


def _crash_before_flip(monkeypatch, commit, *args, **kwargs):
    """Run ``commit`` with os.replace failing on LATEST: the writer dies
    after claiming its version, before the flip."""
    import os

    real_replace = os.replace

    def boom(src, dst):
        if os.path.basename(dst) == "LATEST":
            raise RuntimeError("simulated crash before manifest flip")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        commit(*args, **kwargs)
    monkeypatch.setattr(os, "replace", real_replace)


def test_manifest_rows_follow_append_crash_vacuum_retry(spark, tmp_path, monkeypatch):
    """The manifest's row count and schema stay equal to what Spark reads
    after an append, a crash before the flip, vacuum and the retry; the
    crashed attempt's claim is uncommitted and vacuum sweeps it."""
    import os

    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "sink")
    base = io.load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    assert sinks.commit_append(base.limit(5), root, txn_id="t1")["rows"] == 5
    _assert_manifest_matches_spark(spark, root)

    _crash_before_flip(monkeypatch, sinks.commit_append, base.limit(9), root, txn_id="t2")
    # the crashed attempt's v2 claim is on disk but not committed
    claim = os.path.join(root, "_manifest", "v000002.json")
    assert os.path.exists(claim)
    with pytest.raises(ValueError):
        sinks.read_snapshot(spark, root, version=2)
    _assert_manifest_matches_spark(spark, root)

    assert sinks.vacuum(root)
    assert not os.path.exists(claim)
    _assert_manifest_matches_spark(spark, root)
    assert sinks.commit_append(base.limit(9), root, txn_id="t2")["rows"] == 14
    _assert_manifest_matches_spark(spark, root)
    _assert_manifest_matches_spark(spark, root, version=2)


def test_other_writers_commit_after_a_crash_and_vacuum(spark, tmp_path, monkeypatch):
    """A crash before the flip is never retried under its txn id: after
    vacuum, an append and an upsert of other txns both land."""
    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "sink")
    kv = spark.range(0, 4).selectExpr("id AS k", "id AS v").coalesce(1)
    sinks.commit_append(kv, root, txn_id="t1")
    _crash_before_flip(
        monkeypatch, sinks.commit_append, kv.selectExpr("k + 10 AS k", "v"), root,
        txn_id="t2",
    )
    sinks.vacuum(root)

    sinks.commit_append(kv.selectExpr("k + 20 AS k", "v"), root, txn_id="t3")
    up = spark.createDataFrame([(1, 99)], ["k", "v"])
    snap = sinks.commit_upsert(spark, up, root, ["k"], txn_id="u")
    assert snap["version"] == 3 and snap["txns"] == ["t1", "t3", "u"]
    got = sorted((r["k"], r["v"]) for r in sinks.read_snapshot(spark, root).collect())
    assert got == [(0, 0), (1, 99), (2, 2), (3, 3), (20, 0), (21, 1), (22, 2), (23, 3)]
    _assert_manifest_matches_spark(spark, root)


def test_crashed_claim_is_taken_over_once_it_times_out(spark, tmp_path, monkeypatch):
    """Without vacuum, a crashed writer's claim blocks other txns only
    until it is ``_CLAIM_TIMEOUT_S`` old; then exactly one writer takes
    it over, with no wait."""
    import os
    import time
    import types

    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "sink")
    kv = spark.range(0, 4).selectExpr("id AS k", "id AS v").coalesce(1)
    sinks.commit_append(kv, root, txn_id="t1")

    def age_claim(version):
        old = time.time() - sinks._CLAIM_TIMEOUT_S - 1
        os.utime(sinks._version_path(root, version), (old, old))

    _crash_before_flip(
        monkeypatch, sinks.commit_append, kv.selectExpr("k + 10 AS k", "v"), root,
        txn_id="t2",
    )
    up = spark.createDataFrame([(1, 99)], ["k", "v"])
    with pytest.raises(sinks.CommitConflict):  # the claim is still fresh
        sinks.commit_upsert(spark, up, root, ["k"], txn_id="u")
    age_claim(2)
    assert sinks.commit_upsert(spark, up, root, ["k"], txn_id="u")["version"] == 2

    _crash_before_flip(
        monkeypatch, sinks.commit_append, kv.selectExpr("k + 20 AS k", "v"), root,
        txn_id="t3",
    )
    age_claim(3)

    def no_wait(seconds):
        raise AssertionError("an aged claim is taken over without waiting")

    monkeypatch.setattr(
        sinks, "time", types.SimpleNamespace(sleep=no_wait, time=time.time)
    )
    snap = sinks.commit_append(kv.selectExpr("k + 30 AS k", "v"), root, txn_id="t4")
    monkeypatch.setattr(sinks, "time", time)
    assert snap["version"] == 3 and snap["txns"] == ["t1", "u", "t4"]
    _assert_manifest_matches_spark(spark, root)

    # one aged claim, two writers: only the first to mark it may replace it
    _crash_before_flip(monkeypatch, sinks.commit_append, kv, root, txn_id="t5")
    claim = sinks._version_path(root, 4)
    age_claim(4)
    sinks._take_over(root, claim, "a")
    with pytest.raises(sinks.CommitConflict):
        sinks._take_over(root, claim, "b")
    assert sinks.vacuum(root)
    mdir = os.path.join(root, "_manifest")
    assert sorted(os.listdir(mdir)) == ["LATEST", "SCHEMA"] + [
        f"v{v:06d}.json" for v in (1, 2, 3)
    ]
    _assert_manifest_matches_spark(spark, root)


def test_manifest_without_rows_or_schema_still_reads(spark, tmp_path):
    """A sink whose manifest predates the ``rows`` field and the
    ``SCHEMA`` file reads and counts as before, and the next commit
    on it stores the right row count. Its schema stays the one Spark
    infers from its files, even when the next batch carries another
    column: no ``SCHEMA`` is recorded from that batch."""
    import json
    import os

    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "old_sink")
    base = io.load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    base.limit(7).coalesce(2).write.parquet(os.path.join(root, "data", "txn-old"))
    files = sorted(
        os.path.join("data", "txn-old", f)
        for f in os.listdir(os.path.join(root, "data", "txn-old"))
        if f.endswith(".parquet")
    )
    mdir = os.path.join(root, "_manifest")
    os.makedirs(mdir)
    with open(os.path.join(mdir, "v000001.json"), "w") as fh:
        json.dump({"version": 1, "files": files, "txns": ["old"]}, fh)
    with open(os.path.join(mdir, "LATEST"), "w") as fh:
        fh.write("v000001.json")

    df = sinks.read_snapshot(spark, root)
    assert df.count() == 7
    assert df.schema == spark.read.parquet(
        *[os.path.join(root, f) for f in files]
    ).schema
    assert sinks.commit_append(base.limit(7), root, txn_id="old")["rows"] == 7

    snap = sinks.commit_append(
        base.limit(4).withColumn("n_extra", F.lit(1)), root, txn_id="new"
    )
    assert snap["rows"] == 11 == sinks.read_snapshot(spark, root).count()
    _assert_manifest_matches_spark(spark, root, recorded=False)


def _record_latest_flips(monkeypatch):
    """Wrap os.replace; returns the list of versions LATEST was flipped to."""
    import os

    flips = []
    real_replace = os.replace

    def spy(src, dst):
        if os.path.basename(dst) == "LATEST":
            with open(src) as fh:
                flips.append(int(fh.read().strip()[1:7]))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", spy)
    return flips


def test_overlapping_appends_both_land(spark, tmp_path, monkeypatch):
    """Two cron runs overlap: writer B read the snapshot before writer A
    committed. B's claim on the same version fails, B re-reads and
    commits on top of A, so both batches land once and LATEST only
    moves forward."""
    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "sink")
    df = spark.range(0, 6).selectExpr("id AS k").coalesce(1)
    sinks.commit_append(df.filter("k < 2"), root, txn_id="base")
    stale = sinks._read_latest(root)
    sinks.commit_append(df.filter("k BETWEEN 2 AND 3"), root, txn_id="A")

    flips = _record_latest_flips(monkeypatch)
    real_read = sinks._read_latest
    handed = []

    def read_stale_once(r):
        if not handed:
            handed.append(r)
            return dict(stale)
        return real_read(r)

    monkeypatch.setattr(sinks, "_read_latest", read_stale_once)
    snap = sinks.commit_append(df.filter("k >= 4"), root, txn_id="B")
    monkeypatch.setattr(sinks, "_read_latest", real_read)

    assert snap["version"] == 3 and snap["txns"] == ["base", "A", "B"]
    assert flips == [3]
    assert sinks.committed_txns(root) == {"base", "A", "B"}
    got = sorted(r["k"] for r in sinks.read_snapshot(spark, root).collect())
    assert got == list(range(6))
    assert snap["rows"] == 6
    _assert_manifest_matches_spark(spark, root)


def test_append_waits_for_a_pending_claim(spark, tmp_path, monkeypatch):
    """Writer A holds v2 but has not flipped LATEST yet: writer B waits
    for the flip instead of committing a snapshot that lacks A's batch."""
    import json
    import os
    import time
    import types

    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "sink")
    df = spark.range(0, 6).selectExpr("id AS k").coalesce(1)
    sinks.commit_append(df.filter("k < 2"), root, txn_id="base")
    a_snap = sinks.commit_append(df.filter("k BETWEEN 2 AND 3"), root, txn_id="A")
    # roll LATEST back to v1: A has claimed v2 but not flipped
    latest = os.path.join(root, "_manifest", "LATEST")
    with open(latest, "w") as fh:
        fh.write("v000001.json")
    assert sinks.committed_txns(root) == {"base"}

    waits = []

    def a_flips(seconds):
        waits.append(seconds)
        with open(latest, "w") as fh:
            fh.write("v000002.json")

    monkeypatch.setattr(
        sinks, "time", types.SimpleNamespace(sleep=a_flips, time=time.time)
    )
    flips = _record_latest_flips(monkeypatch)
    snap = sinks.commit_append(df.filter("k >= 4"), root, txn_id="B")
    assert len(waits) == 1
    assert flips == [3]
    assert snap["txns"] == ["base", "A", "B"] and snap["rows"] == 6
    with open(os.path.join(root, "_manifest", "v000002.json")) as fh:
        assert json.load(fh) == a_snap
    _assert_manifest_matches_spark(spark, root)


def test_upsert_raises_on_an_overlapping_commit(spark, tmp_path, monkeypatch):
    """An upsert whose snapshot went stale before its commit raises:
    its touched-file set describes the older snapshot."""
    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "sink")
    kv = spark.range(0, 4).selectExpr("id AS k", "id AS v").coalesce(1)
    sinks.commit_append(kv, root, txn_id="base")
    stale = sinks._read_latest(root)
    sinks.commit_append(kv.selectExpr("k + 10 AS k", "v"), root, txn_id="A")

    monkeypatch.setattr(sinks, "_read_latest", lambda r: dict(stale))
    up = spark.createDataFrame([(1, 99)], ["k", "v"])
    with pytest.raises(sinks.CommitConflict):
        sinks.commit_upsert(spark, up, root, ["k"], txn_id="U")
    monkeypatch.undo()
    assert sinks.committed_txns(root) == {"base", "A"}
    _assert_manifest_matches_spark(spark, root)


def _jobs(spark, group, fn, *args):
    """``fn(*args)`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tick_runs_each_spark_job_once(spark, tmp_path):
    """The cron tick launches no job that only reports a count: a fresh
    incremental append, its no-op retry and the routed write stay under
    their job budgets on sf0.01, and the append still returns the
    oracle's row count."""
    import os

    import duckdb

    from seamless_sharepoint_etl_spark import io, pipelines

    sf = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "fixture", "sf0.01",
    )

    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        # the session memoizes each table's DataFrame; its schema
        # inference is a one-time set-up job, not part of a tick
        io.load_table(spark, sf, t)
    want = con.sql(
        f"SELECT count(*) FROM ({pipelines.INCREMENTAL_LOAD_SQL})"
    ).fetchone()[0]
    con.close()

    root = str(tmp_path / "sink")
    rows, n_append = _jobs(
        spark, "tick-append", pipelines.run_incremental_append, spark, sf, root
    )
    again, n_retry = _jobs(
        spark, "tick-retry", pipelines.run_incremental_append, spark, sf, root
    )
    routes, n_routed = _jobs(
        spark, "tick-routed", pipelines.write_routed, spark, sf, str(tmp_path / "routed")
    )
    assert rows == again == want > 0
    assert sum(routes.values()) == spark.read.parquet(str(tmp_path / "routed")).count()
    assert n_append <= 8, n_append
    assert n_retry <= 4, n_retry
    assert n_routed <= 2, n_routed


def test_snapshot_read_lists_no_files_in_a_job(spark, tmp_path):
    """A snapshot naming more files than Spark's 32-path parallel
    listing threshold is read without a listing job: counting the
    latest snapshot, or time-travelling to an earlier one, launches
    only the count's own jobs."""
    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "sink")
    n_files = {}
    for i, parts in enumerate((20, 20, 4)):
        df = spark.range(i * 100, (i + 1) * 100).repartition(parts)
        snap = sinks.commit_append(df, root, txn_id=f"t{i}")
        n_files[snap["version"]] = len(snap["files"])
    assert n_files == {1: 20, 2: 40, 3: 44}

    def count(version):
        snap = sinks.read_snapshot(spark, root, version=version)
        return snap.agg(F.count(F.lit(1))).first()[0]

    for version, rows in ((None, 300), (2, 200)):
        n, n_jobs = _jobs(spark, f"read-v{version}", count, version)
        assert n == rows
        assert n_jobs <= 2, (version, n_jobs)


def test_append_writes_the_flagship_batch_in_key_order(spark, tmp_path):
    """The tick's batch is ``incremental_load``'s: a fresh append's
    snapshot holds the same multiset of rows, and each written file,
    taken in the manifest's order, is ascending on ``po_number``."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from seamless_sharepoint_etl_spark import pipelines, sinks

    root = str(tmp_path / "sink")
    pipelines.run_incremental_append(spark, SF_DIR, root)
    got = sinks.read_snapshot(spark, root).collect()
    want = pipelines.incremental_load(spark, SF_DIR).collect()
    assert want and Counter(map(tuple, got)) == Counter(map(tuple, want))
    keys = []
    for f in sinks._read_latest(root)["files"]:
        in_file = pq.read_table(os.path.join(root, f)).column("po_number").to_pylist()
        assert in_file == sorted(in_file), f
        keys += in_file
    assert keys == sorted(keys)
