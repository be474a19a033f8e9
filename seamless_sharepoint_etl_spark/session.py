"""SparkSession factory with the engine's canonical configuration.

The driver supplies its own session to ``__spark_entry__``; this factory
is for tests, bench runs, and standalone use. ``configure()`` applies the
*dynamic* (session-settable) knobs to any session, including a
driver-provided one — notably the legacy nanos-as-long parquet flag the
``events`` table needs (its parquet ts column is TIMESTAMP(NANOS), which
Spark 4 otherwise refuses to read).

Scale posture (100 TB): AQE is the load-bearing setting — it coalesces
shuffle partitions, switches sort-merge→broadcast when runtime stats
allow, and splits skewed partitions. Shuffle partitions default to the
local core count here but are sized ``~2-3× total executor cores`` (or
left to AQE's advisory size) on a real cluster.

File listing: ``get_spark`` raises
``spark.sql.sources.parallelPartitionDiscovery.threshold`` so that a
read never lists its paths in a Spark job. Past the default 32 paths,
Spark's ``InMemoryFileIndex`` lists them in a parallel job with one task
per path; in a ``local[N]`` session that job runs in the driver's own
JVM, so it only adds scheduling. Building the read of a 72- and a
160-file sink snapshot on 4 shared vCPUs, each added path cost about
0.2 ms listed on the driver against 2.2-3.3 ms listed in the job (two
profiles; 436-525 ms against 42-46 ms at 72 files). For 32 cores this
is extrapolated, not measured: the job's cost is per-task scheduling on
the driver, which more cores do not remove. The sink (``sinks.py``) is
the reader it matters for: its manifest names every file, so a listing
job there discovers nothing. The conf is set on ``SparkSession.builder``,
not in ``DYNAMIC_CONF``, so ``configure()`` leaves a driver-provided
(possibly clustered) session's listing alone; Spark 4.1 has no per-read
option for it, and setting it around one read would race with other
threads' reads (``foreachBatch`` sinks) on the shared session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Dynamic (session-level) confs — safe to apply to an existing session.
DYNAMIC_CONF: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); read as long, convert in io.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for every pandas_udf / applyInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: partition coalescing, skew-join split,
    # broadcast-join conversion from runtime statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let Python DataSources absorb Catalyst filters (sources/rest.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Deterministic wall-clock-free semantics for tests/oracles.
    "spark.sql.session.timeZone": "UTC",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session (idempotent)."""
    for k, v in DYNAMIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static on some builds; the engine degrades
            # gracefully (io.py re-checks the one truly required flag).
            pass
    return spark


def get_spark(app_name: str = "seamless-sharepoint-etl-spark") -> SparkSession:
    """Build (or reuse) the canonical local session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    shuffle partitions match so a local run has no dangling tiny tasks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep catalog data out of the repo cwd (bucketed-layout tables
        # pass explicit external paths; this catches the default dir)
        .config("spark.sql.warehouse.dir", "/tmp/sse-warehouse")
        # Int.MaxValue paths: every read lists its paths on the driver,
        # never in a Spark job (see the module docstring)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    for k, v in DYNAMIC_CONF.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
