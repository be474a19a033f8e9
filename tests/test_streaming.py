"""Real Structured Streaming runs vs their batch equivalents.

Deterministic: the source replays the fixture events as time-ordered
chunks under Trigger.AvailableNow — watermark progression is a pure
function of the data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    from seamless_sharepoint_etl_spark.streaming import jobs

    base = tmp_path_factory.mktemp("stream_src")
    return jobs.prepare_stream_source(spark, SF_DIR, str(base), n_chunks=4)


def test_tumbling_stream_equals_batch(spark, stream_src, tmp_path):
    from seamless_sharepoint_etl_spark.streaming import jobs, windows

    got = jobs.run_tumbling_complete(spark, stream_src, str(tmp_path / "ck"))
    want = windows.tumbling_window_agg(spark, SF_DIR).select(
        "window_start", "event_type", "n_events", "sum_value"
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_watermark_append_emits_closed_windows(spark, stream_src, tmp_path):
    """Append mode emits exactly the windows the final watermark closed,
    each exactly once; every emitted row matches the batch computation."""
    from seamless_sharepoint_etl_spark.streaming import jobs

    got = jobs.run_watermark_append(spark, stream_src, str(tmp_path / "ck"))
    rows = got.collect()
    assert rows, "watermark never closed any window"
    # no duplicate emissions
    starts = [r["window_start"] for r in rows]
    assert len(starts) == len(set(starts))
    # each emitted window agrees with batch truth
    ev = spark.read.parquet(f"{stream_src}")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("n_events"),
        )
    )
    truth = {r["window_start"]: r["n_events"] for r in batch.collect()}
    for r in rows:
        assert truth[r["window_start"]] == r["n_events"]


def test_dedup_within_watermark(spark, stream_src, tmp_path):
    from seamless_sharepoint_etl_spark.streaming import jobs

    got = jobs.run_dedup_within_watermark(spark, stream_src, str(tmp_path / "ck"))
    rows = got.collect()
    pairs = [(r["user_id"], r["event_type"]) for r in rows]
    # within one watermark horizon each key appears once; across the whole
    # run a key may legitimately re-emit after its state expires, so:
    # emitted keys ⊇ distinct batch keys, and ≤ small multiple of them.
    ev = spark.read.parquet(stream_src)
    distinct_keys = {
        (r["user_id"], r["event_type"])
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert set(pairs) == distinct_keys
    assert len(pairs) <= 3 * len(distinct_keys)


def test_stateful_user_counter(spark, stream_src, tmp_path):
    """applyInPandasWithState: final per-user state equals batch totals."""
    from seamless_sharepoint_etl_spark.streaming import jobs

    got = jobs.run_stateful_user_counter(spark, stream_src, str(tmp_path / "ck"))
    # update mode re-emits per batch; the max n_events per user is final
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    ev = spark.read.parquet(stream_src)
    truth = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {r["user_id"]: r["n_events"] for r in final} == truth


def test_stream_to_rest_sink_roundtrip(spark, stream_src, tmp_path):
    """foreachBatch → REST sink: union of all POSTed batch bodies equals
    the batch table, and every micro-batch committed its manifest."""
    import json, os
    from seamless_sharepoint_etl_spark.streaming import jobs

    sink = str(tmp_path / "rest_sink")
    os.makedirs(sink)
    n_batches = jobs.run_stream_to_rest_sink(
        spark, stream_src, str(tmp_path / "ck"), sink
    )
    assert n_batches >= 2  # maxFilesPerTrigger=1 over 4 chunks

    posted = []
    for d in sorted(os.listdir(sink)):
        mpath = os.path.join(sink, d, "manifest.json")
        with open(mpath) as fh:
            manifest = json.load(fh)
        cols = manifest["columns"]
        for b in manifest["batches"]:
            body = json.load(open(os.path.join(sink, d, b["file"])))
            posted += [tuple(v) for v in body["values"]]
    ev = spark.read.parquet(stream_src)
    truth = [
        (r["event_id"], r["user_id"], r["event_type"], r["value"])
        for r in ev.select("event_id", "user_id", "event_type", "value").collect()
    ]
    assert cols == ["event_id", "user_id", "event_type", "value"]
    assert sorted(posted, key=repr) == sorted(truth, key=repr)


def test_session_window_stream_equals_batch_closed_sessions(spark, stream_src, tmp_path):
    """Streamed session windows ≡ batch session windows for every
    session the watermark closed (append mode emits closed sessions;
    sessions still open at end-of-stream are legitimately withheld)."""
    from seamless_sharepoint_etl_spark.streaming import jobs, windows as sw

    got = jobs.run_session_window_stream(spark, stream_src, str(tmp_path / "ck"))
    got_rows = {
        (r["user_id"], r["session_start"], r["session_end"]):
        (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    assert got_rows, "stream emitted no closed sessions"

    ev = spark.read.parquet(stream_src)
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    batch_rows = {
        (r["user_id"], r["session_start"], r["session_end"]):
        (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    # every emitted session must exactly match its batch twin
    for key, val in got_rows.items():
        assert batch_rows.get(key) == val, key
    # and the stream must have closed the overwhelming majority
    assert len(got_rows) >= 0.8 * len(batch_rows)


def test_sliding_window_stream_equals_batch(spark, stream_src, tmp_path):
    """Streamed sliding windows (complete mode) ≡ batch sliding windows."""
    from seamless_sharepoint_etl_spark.streaming import jobs

    got = jobs.run_sliding_window_stream(spark, stream_src, str(tmp_path / "ck"))
    ev = spark.read.parquet(stream_src)
    want = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_stream_stream_join_equals_batch(spark, stream_src, tmp_path):
    """Watermarked stream-stream interval join emits exactly the batch
    attribution pairs (inner join: every band-matching pair, once)."""
    from seamless_sharepoint_etl_spark.streaming import jobs, windows

    got = jobs.run_stream_stream_join(spark, stream_src, str(tmp_path / "ck"))
    want = windows.stream_stream_join_attrib(spark, SF_DIR)
    g = {
        (r["user_id"], r["buy_id"], r["view_id"], r["lag_seconds"])
        for r in got.collect()
    }
    w = {
        (r["user_id"], r["buy_id"], r["view_id"], r["lag_seconds"])
        for r in want.collect()
    }
    assert w, "fixture must contain attributable purchases"
    assert g == w


def test_stream_static_enrich_equals_batch(spark, stream_src, tmp_path):
    """Stream-static join: streamed enrichment ≡ the same join run as a
    batch (stream-static joins are stateless, so exact equality)."""
    from seamless_sharepoint_etl_spark.streaming import jobs

    got = jobs.run_stream_static_enrich(spark, stream_src, str(tmp_path / "ck"))
    ev = spark.read.schema(jobs.EVENT_SCHEMA).parquet(stream_src)
    profile = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("hist_events"),
            F.round(F.sum("value"), 4).alias("hist_value"),
        )
        .withColumn(
            "tier",
            F.when(F.col("hist_value") >= 500, "gold")
            .when(F.col("hist_value") >= 100, "silver")
            .otherwise("bronze"),
        )
    )
    want = ev.join(profile, "user_id").select(
        "event_id", "user_id", "event_type", "tier", "hist_events",
        F.round("value", 4).alias("value"),
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) == ev.count()


def test_stream_to_manifest_sink_exactly_once(spark, stream_src, tmp_path):
    """foreachBatch → manifest sink: every micro-batch commits exactly
    once; a FULL re-run of the stream (fresh checkpoint, same sink)
    replays the same batch ids and commits nothing new."""
    import os

    from seamless_sharepoint_etl_spark.streaming import jobs
    from seamless_sharepoint_etl_spark import sinks

    sink = str(tmp_path / "sink")
    n_txn = jobs.run_stream_to_manifest_sink(
        spark, stream_src, str(tmp_path / "ck1"), sink
    )
    total = spark.read.schema(jobs.EVENT_SCHEMA).parquet(stream_src).count()
    snap = sinks.read_snapshot(spark, sink)
    assert snap.count() == total
    assert n_txn == 4  # one txn per chunk (maxFilesPerTrigger=1)
    # the manifest's row count and recorded schema match what Spark
    # counts and infers from the snapshot's files
    latest = sinks._read_latest(sink)
    assert latest["rows"] == total
    files = [os.path.join(sink, f) for f in latest["files"]]
    assert snap.schema == spark.read.parquet(*files).schema

    # replay the whole stream against the same sink: same batch ids →
    # every commit is a no-op, snapshot unchanged
    n_txn2 = jobs.run_stream_to_manifest_sink(
        spark, stream_src, str(tmp_path / "ck2"), sink
    )
    assert n_txn2 == n_txn
    assert sinks.read_snapshot(spark, sink).count() == total


def test_stream_upsert_sink_converges_to_latest_per_user(spark, stream_src, tmp_path):
    """foreachBatch MERGE → transactional sink: after the stream drains,
    the serving table is exactly 'latest event per user' (batch oracle);
    a full fresh-checkpoint replay commits nothing new; and the upsert
    is file-granular copy-on-write (later manifests still reference
    earlier txns' untouched files)."""
    import json
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark import sinks
    from seamless_sharepoint_etl_spark.streaming import jobs

    sink = str(tmp_path / "upsink")
    n_txn = jobs.run_stream_to_upsert_sink(
        spark, stream_src, str(tmp_path / "ck1"), sink
    )
    assert n_txn == 4  # one txn per chunk (maxFilesPerTrigger=1)

    batch = spark.read.schema(jobs.EVENT_SCHEMA).parquet(stream_src)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        (r["user_id"], r["event_id"])
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    got = {
        (r["user_id"], r["event_id"])
        for r in sinks.read_snapshot(spark, sink).collect()
    }
    assert got == want

    # replay from scratch: same batch ids -> all no-ops
    n2 = jobs.run_stream_to_upsert_sink(
        spark, stream_src, str(tmp_path / "ck2"), sink
    )
    assert n2 == n_txn
    assert {
        (r["user_id"], r["event_id"])
        for r in sinks.read_snapshot(spark, sink).collect()
    } == want

    # copy-on-write evidence: the final manifest references files from
    # more than one transaction iff any early file went untouched, and
    # every referenced file exists
    latest = os.path.join(sink, "_manifest", "LATEST")
    with open(os.path.join(sink, "_manifest", open(latest).read().strip())) as fh:
        snap = json.load(fh)
    assert snap["txns"] == [f"up-{i:05d}" for i in range(4)]
    for f in snap["files"]:
        assert os.path.exists(os.path.join(sink, f))


def test_stream_upsert_out_of_order_batches_keep_latest(spark, tmp_path):
    """Event-time guard: a LATE-arriving batch (older ts processed
    after a newer one) must not regress the serving table — the merge
    folds the sink's current row into the latest-wins pick."""
    import datetime
    import glob
    import os
    import shutil

    from seamless_sharepoint_etl_spark import sinks
    from seamless_sharepoint_etl_spark.streaming import jobs

    def ts(h):
        return datetime.datetime(2024, 1, 1, h, 0, 0)

    flat = str(tmp_path / "ooo_src")
    os.makedirs(flat)
    chunks = [
        # processed FIRST (mtime 1): the NEWER event
        [(2, ts(10), 1, "click", 2.0), (10, ts(8), 7, "view", 1.0)],
        # processed SECOND (mtime 2): a late event, older ts
        [(1, ts(9), 1, "view", 1.0), (11, ts(9), 7, "click", 3.0)],
    ]
    for k, rows in enumerate(chunks):
        staging = str(tmp_path / f"c{k}")
        spark.createDataFrame(
            rows, "event_id LONG, ts TIMESTAMP, user_id LONG,"
            " event_type STRING, value DOUBLE"
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        src = glob.glob(os.path.join(staging, "*.parquet"))[0]
        dst = os.path.join(flat, f"{k:02d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    sink = str(tmp_path / "ooo_sink")
    jobs.run_stream_to_upsert_sink(spark, flat, str(tmp_path / "ck"), sink)
    got = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in sinks.read_snapshot(spark, sink).collect()
    }
    # user 1: the late 09:00 event must NOT displace the 10:00 row
    assert got[1] == (2, ts(10))
    # user 7: 09:00 arrived after 08:00 and IS newer -> replaces
    assert got[7] == (11, ts(9))


def test_tws_user_counter_agrees_or_gates_honestly(spark, tmp_path):
    """Spark 4's transformWithStateInPandas twin of the stateful
    counter: when the protobuf transport is available the two stateful
    APIs must agree on every final per-user state; in this container
    the dependency is absent and the job must fail with the clear
    ImportError (not a hang or a silent empty result)."""
    import pytest

    from seamless_sharepoint_etl_spark.streaming import jobs

    src = jobs.prepare_stream_source(spark, SF_DIR, str(tmp_path / "src"))
    if not jobs.transform_with_state_available():
        with pytest.raises(ImportError, match="protobuf"):
            jobs.run_tws_user_counter(spark, src, str(tmp_path / "cp"))
        return
    import pyspark.sql.functions as F

    tws = jobs.run_tws_user_counter(spark, src, str(tmp_path / "cp"))
    old = jobs.run_stateful_user_counter(spark, src, str(tmp_path / "cp2"))
    final = lambda df: {  # noqa: E731
        r["user_id"]: (r["n"], r["t"])
        for r in df.groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("total_value").alias("t"))
        .collect()
    }
    assert final(tws) == final(old)
