"""Real Structured Streaming jobs over the events table.

Provenance: SURVEY.md §2 Tier B, Streaming row (no reference
counterpart); the cron-tick batch pattern of the reference (A17,
README.md:7) maps to Trigger.AvailableNow here.

The batch-equivalent forms live in ``streaming.windows`` (oracle-
checkable); these run the *same logical plans* through
readStream → writeStream with ``Trigger.AvailableNow`` so watermark
advancement, append-mode emission, and Python stateful processing
(``applyInPandasWithState``) are actually exercised. Tests assert
stream output ≡ batch output (or the watermark-correct subset).

Determinism: the stream source is the fixture parquet re-chunked into
time-ordered files (chunk k = k-th quantile of event time), with
``maxFilesPerTrigger=1`` — so watermark progression across batches is a
pure function of the data, never of wall clock.

Scale posture: state stores are keyed by (user, window); watermark
delay bounds state size. ``applyInPandasWithState`` receives Arrow
batches per key group — the only Python hop, amortized per group.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .. import io
from ..operators.windows import running_sums

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def prepare_stream_source(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4
) -> str:
    """Materialize events as n time-ordered parquet chunks (µs ts, no
    props) so a file-stream source replays them in event-time order."""
    # Watermarks require TIMESTAMP (with local tz), not TIMESTAMP_NTZ —
    # cast once at source-materialization time.
    ev = io.load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    # Exact ntile(n_chunks) OVER (ORDER BY ts, event_id) from the
    # global row number, with no corpus-sized single-task window
    n_total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    numbered = running_sums(
        ev.crossJoin(F.broadcast(n_total)),
        F.unix_micros("ts"),
        ["event_id"],
        {"rn": F.lit(1)},
    )
    # ntile semantics: with N = base·n + rem, the first `rem` chunks
    # take base+1 rows — reproduced exactly from the global row number
    chunked = (
        numbered.withColumn(
            "chunk",
            F.expr(
                f"CAST(IF(rn <= (n_total % {n_chunks}) * (n_total div {n_chunks} + 1),"
                f" (rn - 1) div (n_total div {n_chunks} + 1) + 1,"
                f" n_total % {n_chunks}"
                f" + (rn - (n_total % {n_chunks}) * (n_total div {n_chunks} + 1) - 1)"
                f"   div (n_total div {n_chunks}) + 1) AS INT)"
            ),
        )
        .select("event_id", "ts", "user_id", "event_type", "value", "chunk")
        .persist()
    )
    for k in range(1, n_chunks + 1):
        (
            chunked.filter(F.col("chunk") == k)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"chunk_{k:02d}"))
        )
    chunked.unpersist()
    # flatten: the file source watches one dir; name files so lexical
    # order == event-time order (the source lists in discovery order).
    import glob
    import shutil

    flat = os.path.join(out_dir, "stream")
    os.makedirs(flat, exist_ok=True)
    for k in range(1, n_chunks + 1):
        src = glob.glob(os.path.join(out_dir, f"chunk_{k:02d}", "*.parquet"))[0]
        dst = os.path.join(flat, f"{k:02d}.parquet")
        shutil.copy(src, dst)
        # the file stream source orders by modification time — pin
        # strictly increasing mtimes (1s apart) so chunk order is the
        # processing order even when copies land in the same millisecond
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    return flat


def _drain(writer: DataStreamWriter, checkpoint: str) -> None:
    """Run ``writer`` once over everything the source holds now
    (``Trigger.AvailableNow``), checkpointed at ``checkpoint``, and
    wait for it to finish."""
    (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _read_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def run_tumbling_complete(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "tumbling_mem"
) -> DataFrame:
    """Tumbling 1h window agg, complete mode → memory sink."""
    stream = _read_stream(spark, src_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            # NTZ output cast: session tz is UTC, but ltz values collect
            # as process-local naive datetimes under a non-UTC driver
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _drain(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
        checkpoint,
    )
    return spark.table(name)


def run_watermark_append(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "wm_append"
) -> DataFrame:
    """Watermarked tumbling agg in append mode: a window row emits only
    once the watermark (max event time − 10 min) passes its end."""
    stream = _read_stream(spark, src_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n_events",
        )
    )
    _drain(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        checkpoint,
    )
    return spark.table(name)


def run_stream_stream_join(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "ss_join"
) -> DataFrame:
    """Watermarked stream-stream inner join (purchase → view
    attribution, the twin of ``windows.stream_stream_join_attrib``).

    Both sides carry a watermark and the join condition carries the
    time band — together they bound BOTH state stores: a buffered view
    older than (watermark − band) is evicted because no future purchase
    can reach back to it. Without the band the view state would grow
    forever; this is the canonical stream-stream join contract.
    """
    views = (
        _read_stream(spark, src_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    buys = (
        _read_stream(spark, src_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
            "value",
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = buys.join(
        views,
        F.expr(
            """
            user_id = v_user_id AND
            view_ts <= buy_ts AND
            view_ts >= buy_ts - INTERVAL 30 MINUTES
            """
        ),
    )
    _drain(
        joined.select(
            "user_id",
            "buy_id",
            "view_id",
            F.round("value", 4).alias("purchase_value"),
            (
                F.col("buy_ts").cast("long") - F.col("view_ts").cast("long")
            ).alias("lag_seconds"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        checkpoint,
    )
    return spark.table(name)


def run_dedup_within_watermark(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "dedup_wm"
) -> DataFrame:
    """Streaming dedup on (user_id, event_type) within the watermark."""
    stream = _read_stream(spark, src_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    _drain(
        deduped.select("user_id", "event_type")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        checkpoint,
    )
    return spark.table(name)


_STATE_OUT = "user_id LONG, n_events LONG, total_value DOUBLE"


def _count_per_user(key, pdfs, state: GroupState):
    """Stateful per-user accumulator (count + value sum across batches)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
    )


def run_stateful_user_counter(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "stateful_counts"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count/value-sum, updated every micro-batch."""
    stream = _read_stream(spark, src_dir)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        _count_per_user,
        outputStructType=_STATE_OUT,
        stateStructType="n_events LONG, total_value DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain(
        counted.writeStream.format("memory")
        .queryName(name)
        .outputMode("update"),
        checkpoint,
    )
    return spark.table(name)


def transform_with_state_available() -> bool:
    """Spark 4's transformWithStateInPandas drives its Python runner
    over a protobuf channel; the package is absent in this container
    (same class of gap as PIL/ffmpeg — honest gate, not a silent
    skip). On a cluster with `protobuf` installed the job below runs
    as-is."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def run_tws_user_counter(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "tws_counts"
) -> DataFrame:
    """Per-user running count/value-sum on Spark 4's NEW arbitrary-
    stateful API (`transformWithStateInPandas` + `StatefulProcessor`
    with typed ValueState) — the successor to applyInPandasWithState
    with composable state variables, timers, and TTL. Sets the required
    RocksDB state-store provider on the session (runtime-settable, read
    at stream start) and gates on the protobuf transport
    (`transform_with_state_available()`); raises a clear error when the
    dependency is missing.

    Same semantics as `run_stateful_user_counter`, so the test asserts
    the two stateful APIs agree batch-for-batch when runnable.
    """
    if not transform_with_state_available():
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package "
            "(absent in this container); use run_stateful_user_counter"
        )
    # transformWithState REQUIRES the RocksDB state store (the default
    # HDFS-backed provider throws); the conf is runtime-settable and
    # read at stream start, so set it here rather than hoping the
    # caller's session did
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class UserAgg(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState("agg", "n LONG, total DOUBLE")

        def handleInputRows(self, key, rows, timer_values):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 4)],
                }
            )

        def close(self):
            pass

    stream = _read_stream(spark, src_dir)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserAgg(),
        outputStructType=_STATE_OUT,
        outputMode="Update",
        timeMode="None",
    )
    _drain(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update"),
        checkpoint,
    )
    return spark.table(name)


def run_stream_to_rest_sink(
    spark: SparkSession, src_dir: str, checkpoint: str, sink_dir: str
) -> int:
    """Stream → custom REST sink via foreachBatch (A10 + streaming).

    Each micro-batch writes through the batched REST writer
    (sources/rest.py) into a batch-id-named directory: Structured
    Streaming replays a failed batch with the SAME batch id, and the
    writer's overwrite of its own directory makes the replay idempotent
    — the standard exactly-once recipe for non-transactional sinks.
    Returns the number of committed micro-batches.
    """
    from ..sources import rest as rest_src

    rest_src.register(spark)
    stream = _read_stream(spark, src_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def post_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.coalesce(2)
            .write.format("seamless_rest")
            .option("sink_dir", os.path.join(sink_dir, f"batch={batch_id:05d}"))
            .mode("append")
            .save()
        )

    _drain(stream.writeStream.foreachBatch(post_batch), checkpoint)
    return len(
        [d for d in os.listdir(sink_dir) if d.startswith("batch=")]
    )


def run_session_window_stream(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "session_stream"
) -> DataFrame:
    """Per-user 30-min-gap session windows through a real stream —
    session merging is stateful (windows grow/merge as events arrive),
    so this exercises the merging-state path that tumbling windows
    don't. Watermark closes sessions; append mode emits only closed
    sessions; AvailableNow advances the watermark past the final chunk.
    """
    stream = _read_stream(spark, src_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
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
    _drain(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        checkpoint,
    )
    return spark.table(name)


def run_sliding_window_stream(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "sliding_stream"
) -> DataFrame:
    """1-hour windows sliding every 15 minutes through a real stream —
    each event updates 4 overlapping window states; complete mode emits
    the final counts for every window."""
    stream = _read_stream(spark, src_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
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
    _drain(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
        checkpoint,
    )
    return spark.table(name)


def run_stream_static_enrich(
    spark: SparkSession, src_dir: str, checkpoint: str, name: str = "enrich_stream"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of events joins
    a STATIC per-user profile (historical event count + value tier,
    batch-computed once) — the lookup-table pattern every production
    stream runs (user → segment, device → model, ip → geo).

    Stream-static inner joins are stateless by construction (the static
    side is re-resolved per micro-batch, no watermark needed), and the
    static side here is an aggregate of the same fixture, so the
    result is exactly reproducible as a batch join — the pytest gate.
    At 100 TB the static side is a broadcast if it fits, else a
    shuffle join per micro-batch; we leave the choice to AQE.
    """
    static_profile = (
        spark.read.schema(EVENT_SCHEMA)
        .parquet(src_dir)
        .groupBy("user_id")
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
    stream = _read_stream(spark, src_dir)
    enriched = stream.join(static_profile, "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        "tier",
        "hist_events",
        F.round("value", 4).alias("value"),
    )
    _drain(
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        checkpoint,
    )
    return spark.table(name)


def run_stream_to_manifest_sink(
    spark: SparkSession, src_dir: str, checkpoint: str, sink_dir: str
) -> int:
    """Stream → TRANSACTIONAL manifest sink via foreachBatch — the
    canonical exactly-once recipe completed: Structured Streaming
    replays a failed micro-batch with the SAME batch id, and
    ``sinks.commit_append`` treats the batch id as the transaction id,
    so a replayed batch is a committed-txn no-op instead of a
    duplicate. Unlike the batch-id-named-directory recipe
    (``run_stream_to_rest_sink``), readers here are also atomic: they
    resolve files through the committed manifest only, so a reader
    racing a micro-batch commit sees a consistent snapshot.
    Returns the number of committed transactions.
    """
    from .. import sinks

    stream = _read_stream(spark, src_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        sinks.commit_append(batch_df, sink_dir, txn_id=f"batch-{batch_id:05d}")

    _drain(stream.writeStream.foreachBatch(commit_batch), checkpoint)
    return len(sinks.committed_txns(sink_dir))


def run_stream_to_upsert_sink(
    spark: SparkSession, src_dir: str, checkpoint: str, sink_dir: str
) -> int:
    """Streaming MERGE into the transactional sink: each micro-batch
    upserts its users' LATEST event (by ts, event_id tie-break) into a
    per-user serving table — the CDC-to-serving-table pattern, with
    file-granular copy-on-write (``sinks.commit_upsert``) and the
    micro-batch id as the transaction id, so replayed batches are
    committed-txn no-ops and the serving table converges to exactly
    "latest row per user" no matter how often the stream restarts.
    Returns the number of committed transactions.
    """
    from .. import sinks

    stream = _read_stream(spark, src_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # event-time guard: a late-arriving batch must not regress a
        # user's row to an OLDER event — fold the sink's current rows
        # for the touched users into the latest-wins pick, so the merge
        # is monotone in event time no matter how batches arrive
        cur = sinks.read_snapshot(spark, sink_dir)
        if cur is not None:
            existing = cur.join(
                F.broadcast(latest.select("user_id").distinct()),
                "user_id",
                "left_semi",
            )
            latest = (
                latest.unionByName(existing)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        sinks.commit_upsert(
            spark, latest, sink_dir, ["user_id"], txn_id=f"up-{batch_id:05d}"
        )

    _drain(stream.writeStream.foreachBatch(merge_batch), checkpoint)
    return len(sinks.committed_txns(sink_dir))
