"""Canonical table readers over the driver-generated parquet fixtures.

Every operator loads its inputs through ``load_table`` so the whole
engine shares one canonical schema per table. Tables and physical
schemas are fixed by TESTDATA.md / FIXTURES.md §A.

``events`` needs special handling: driver fixture generations have
shipped its parquet ``ts`` column as either TIMESTAMP(NANOS) (which
Spark 4 cannot map to a Catalyst type — read via
``spark.sql.legacy.parquet.nanosAsLong`` as long nanoseconds) or plain
TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads directly as
TIMESTAMP_NTZ). ``load_table`` sniffs the loaded schema and normalizes
both to the same engine shape: ``ts`` TIMESTAMP_NTZ at microsecond
precision plus ``ts_ns`` long nanoseconds, *without* any
session-timezone dependency (epoch-NTZ + exact integer interval
arithmetic; a double round-trip would lose precision above 2^53 ns).
The DuckDB oracle sees the same value via ``CAST(ts AS TIMESTAMP)``
(ns→µs truncation when the file is nanos; no-op when micros).

Scale note (100 TB): these are plain parquet scans, so Catalyst handles
column pruning + predicate/partition pushdown. Keep all filtering
declarative (``.filter`` on the DataFrame) so it reaches the scan —
check ``PushedFilters`` in ``.explain("formatted")``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .artifacts import artifact

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

def fixture_token(sf_dir: str) -> str:
    """10-hex fingerprint of the fixture parquet files (size + mtime).

    ``stage_dir`` embeds this token in every staged artifact's path, so a
    driver-side fixture REGENERATION (it happened mid-round-2 — NOTES
    trap 2) automatically invalidates every staged artifact: the new
    token names a fresh empty dir, and the stale one is never read
    again. Without this, a regenerated fixture would silently pair OLD
    staged rows with an oracle reading the NEW table — a whole-family
    correctness failure no "staging finished" check can see. Missing
    tables are skipped so synthetic partial test fixtures tokenize.
    """
    import hashlib

    h = hashlib.md5()
    for t in TABLES:
        try:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        except FileNotFoundError:
            continue
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:10]


STAGE_ROOT = "/tmp/sse-staged"


def stage_dir(sf_dir: str, what: str) -> str:
    """The path of the artifact ``what`` staged from the fixture ``sf_dir``.

    The name joins the fixture dir's basename, its ``fixture_token`` and
    ``what``, so two fixtures (or two generations of one) never share a
    staged artifact. Publish the artifact with ``staged``."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(STAGE_ROOT, f"{tag}-{fixture_token(sf_dir)}-{what}")


def staged(path: str, write: Callable[[str], object]) -> str:
    """Return ``path``, staging it first if it does not exist yet.

    ``write(tmp)`` creates a file or dir at a private sibling ``tmp``,
    which is then renamed onto ``path``: "``path`` exists" means "its
    staging finished". A ``write`` that raises leaves nothing at
    ``path``, so the next call stages again. When another stager
    publishes first, the rename fails and the winner's ``path`` is
    returned. The sibling is removed in every case."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        write(tmp)
        if os.path.isdir(tmp):
            os.rename(tmp, path)  # fails onto a non-empty dir
        else:
            os.link(tmp, path)  # fails onto any existing file
    except OSError:
        if not os.path.exists(path):
            raise
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        elif os.path.lexists(tmp):
            os.remove(tmp)
    return path


# TIMESTAMP_NTZ '1970-01-01' + exact integer-microsecond interval.
# ts is long nanoseconds here; `div` is integer division (no double detour).
_TS_NS_TO_NTZ = (
    "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)"
    " + make_dt_interval(0, 0, 0, (ts div 1000) / 1000000.0)"
)


# A session artifact holding the UNMATERIALIZED DataFrame (r9, guide
# §1.2 step 2): every `spark.read.parquet` call costs ~90 ms of driver
# work (py4j round trips, file listing, footer schema read) and the
# engine issues hundreds per bench pass. This is plan-construction
# memoization, NOT result caching — nothing is persisted or computed
# here; every action still scans the parquet inputs.
@artifact
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its canonical engine schema."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Harmless when the file is micros; required when it is nanos.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        if isinstance(raw.schema["ts"].dataType, T.LongType):
            # TIMESTAMP(NANOS) fixture → long ns under nanosAsLong.
            ts_expr = F.expr(_TS_NS_TO_NTZ)
            ns_expr = F.col("ts")
        else:
            # TIMESTAMP(MICROS) fixture → already a timestamp; NTZ-cast is
            # tz-free, and ts_ns is rebuilt by exact NTZ epoch-diff.
            ts_expr = F.col("ts").cast("timestamp_ntz")
            ns_expr = F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00',"
                " CAST(ts AS TIMESTAMP_NTZ)) * CAST(1000 AS BIGINT)"
            )
        return raw.select(
            "event_id",
            ts_expr.alias("ts"),
            ns_expr.alias("ts_ns"),  # long nanos, kept for fingerprints
            "user_id",
            "event_type",
            "value",
            "props",
        )
    return spark.read.parquet(path)


@artifact
def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like ``load_table`` but guaranteed ≥ defaultParallelism partitions.

    The fixture files are small (documents/embeddings arrive as ONE
    parquet file → one partition), so CPU-heavy per-row operators
    (shingling, hashing, vector math) would otherwise run single-core.
    The round-robin repartition costs one tiny shuffle of the raw rows
    and buys full-core parallelism for everything downstream. At real
    scale the scan already has thousands of splits and this is a no-op
    (the branch below does nothing when partitions ≥ cores).
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    # file count as the split proxy — len(inputFiles()) is a pure file
    # listing, while .rdd.getNumPartitions() would force a full physical
    # plan compile per call
    if len(df.inputFiles()) < target:
        df = df.repartition(target)
    return df


def _create_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


@artifact
def _views_files(spark: SparkSession, sf_dir: str) -> list[str]:
    _create_views(spark, sf_dir)
    return spark.table("orders").inputFiles()


def register_sql_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture table as a temp view so users can drive the
    engine through plain ``spark.sql`` — the DataFrame registry and the
    SQL surface are the same Catalyst plans either way.

    The views are created once per session and fixture generation. Temp
    views are global to the session, though, so after another sf_dir
    registered its own the views serve that dir: a repeat call compares
    the files the ``orders`` view reads and re-creates the views only
    when they differ, so a repeat over the same dir (every sql_gateway
    query) costs one file listing, not ten re-registrations."""
    files = _views_files(spark, sf_dir)
    if spark.table("orders").inputFiles() != files:
        _create_views(spark, sf_dir)


# ---------------------------------------------------------------------------
# Reference-derived logical fixtures (FIXTURES.md §B) — views over the
# driver tables reproducing the exact row shapes the reference ETL moves.
# ---------------------------------------------------------------------------

# po_number: zero-padded ⇒ lexicographic order == numeric order, mirroring
# the reference's fixed-width string watermark key ('U0000001D',
# bin/copy-seamless-to-sharepoint.rb:71,:80-84).
PO_FORMAT = "U%08dD"


def seamless_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source "pipeline" table (reference form submissions analog).

    One row per order; columns mirror COLUMN_VALUES
    (bin/copy-seamless-to-sharepoint.rb:18): vendor, description,
    picker (a date-picker string), charge_code, plus the po_number
    watermark key and the $1500-routing amount.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # customer is the small side at every SF (1 row per 10 orders);
    # broadcast keeps the enrichment shuffle-free at 100 TB.
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .select(
            F.format_string(PO_FORMAT, F.col("o_orderkey")).alias("po_number"),
            F.col("c_name").alias("vendor"),
            F.concat_ws(
                "-", F.col("o_orderstatus"), F.col("o_orderpriority")
            ).alias("description"),
            F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("picker"),
            F.col("c_mktsegment").alias("charge_code"),
            F.col("o_totalprice").alias("amount"),
        )
    )


# DuckDB twin of seamless_items, used by every oracle over the view.
SEAMLESS_ITEMS_SQL = """
SELECT printf('U%08dD', o_orderkey)          AS po_number,
       c_name                                 AS vendor,
       concat_ws('-', o_orderstatus, o_orderpriority) AS description,
       strftime(o_orderdate, '%Y-%m-%d')      AS picker,
       c_mktsegment                           AS charge_code,
       o_totalprice                           AS amount
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def sharepoint_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positional sink table (5 cols, watermark at index 4 —
    bin/copy-seamless-to-sharepoint.rb:64-66): rows already loaded."""
    items = seamless_items(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    # Frontier key as a *scalar subquery-style* aggregate — never a
    # driver-side collect (SURVEY.md §7.1 step 8).
    frontier = orders.agg(
        F.format_string(
            PO_FORMAT, F.floor(F.max("o_orderkey") * F.lit(0.6)).cast("long")
        ).alias("wm")
    )
    return (
        items.join(F.broadcast(frontier), items.po_number <= frontier.wm, "left_semi")
        .select(
            F.col("vendor").alias("c0"),
            F.col("description").alias("c1"),
            F.col("picker").alias("c2"),
            F.col("charge_code").alias("c3"),
            F.col("po_number"),
        )
    )


SHAREPOINT_ROWS_SQL = f"""
WITH items AS ({SEAMLESS_ITEMS_SQL}),
frontier AS (
  SELECT printf('U%08dD', CAST(floor(max(o_orderkey) * 0.6) AS BIGINT)) AS wm
  FROM orders
)
SELECT vendor AS c0, description AS c1, picker AS c2, charge_code AS c3, po_number
FROM items WHERE po_number <= (SELECT wm FROM frontier)
"""
