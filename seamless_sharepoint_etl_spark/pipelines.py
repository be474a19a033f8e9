"""Reference-parity pipelines: incremental watermark ETL + $1500 routing.

These re-express the *entire* dataflow of the reference scripts
(SURVEY.md §2 Tier A, A1-A12) as single lazy Spark DAGs:

  flagship (A1-A11):  sink-max watermark → strict-`>` source filter
                      (a broadcast left-semi join) → name-resolved
                      projection → ascending sort → append-shaped result
                      with an `observe` row count (`incremental_load`,
                      the lazy DataFrame the registry and bench run).
  routing  (A12):     one parameterized job splitting on the $1500
                      threshold instead of three deployed script copies.

Scale posture: the watermark is an aggregate (`max`), never a "last
row" readback (the reference re-reads its whole sink to look at one
cell — bin/copy-seamless-to-sharepoint.rb:63-66, and its `:52` TODO
admits the ordering workaround is broken). `max` is a partial-agg +
single-row exchange at any scale. The flagship's `>` filter is NOT
pushed into the parquet scan: the watermark is a 1-row DataFrame, so
Catalyst plans the filter as a broadcast non-equi left-semi join and
the orders scan shows `PushedFilters: []`. The join never shuffles the fact side.

The cron tick (`run_incremental_append`, `write_routed`) runs each
Spark job once: the watermark and the txn id come from two scalar
aggregates over `orders`, the row count from the sink manifest, and the
route counts from an `Observation` on the routed write itself. The tick
does not write `incremental_load`: it already holds the watermark on the
driver, so it writes the same rows filtered by `po_number >` that
watermark as a literal, with the flagship's projection and sort
(`_sink_batch`), instead of recomputing the watermark as broadcast
sub-plans inside the write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import io

# Display-name → position contract at the sink (positional schema, the
# reference's Excel-table shape: bin/copy-seamless-to-sharepoint.rb:97-104).
SINK_COLUMNS = ("vendor", "description", "picker", "charge_code", "po_number")


def _sink_batch(fresh: DataFrame) -> DataFrame:
    """The shape of a batch appended to the sink: ``fresh``'s rows in
    sink column order, ascending on the watermark key."""
    return (
        # A6-A8: name-resolved, canonically ordered projection (the
        # positional sink contract — schema IS the column order).
        fresh.select(*SINK_COLUMNS)
        # A5: ascending sort on the watermark key (range-partitioned
        # global sort; cosmetic for the hash check, semantic for parity).
        .orderBy(F.asc("po_number"))
    )


def incremental_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A11: rows of `seamless_items` strictly beyond the sink watermark.

    The watermark is max(po_number) of the already-loaded sink table —
    a fixed-width zero-padded string key, so lexicographic `>` equals
    numeric `>` (the reference's string-compare trap, SURVEY.md §7.3#1).
    """
    items = io.seamless_items(spark, sf_dir)

    # A2 as an explicit aggregate: 1-row DataFrame, broadcast into the
    # filter join (no .collect(); the frontier never touches the driver).
    # Computed from a pure orders scan — max(po_number) of the sink view
    # equals format(max orderkey ≤ the 60% frontier), and po_number is a
    # function of o_orderkey alone, so the sink's customer join would be
    # dead weight here (Catalyst can't prove it away because the right
    # side isn't known unique). Scan 13 in .explain reads one column.
    orders = io.load_table(spark, sf_dir, "orders")
    frontier0 = orders.agg(
        F.floor(F.max("o_orderkey") * F.lit(0.6)).cast("long").alias("k0")
    )
    watermark = (
        orders.join(F.broadcast(frontier0), F.col("o_orderkey") <= F.col("k0"), "left_semi")
        .agg(F.format_string(io.PO_FORMAT, F.max("o_orderkey")).alias("wm"))
    )

    fresh = items.join(
        F.broadcast(watermark), items.po_number > F.col("wm"), "left_semi"
    )
    # A9: row-count observability without a second job.
    return _sink_batch(fresh).observe(
        "incremental_load", F.count(F.lit(1)).alias("rows_loaded")
    )


INCREMENTAL_LOAD_SQL = f"""
WITH items AS ({io.SEAMLESS_ITEMS_SQL}),
sink AS ({io.SHAREPOINT_ROWS_SQL}),
wm AS (SELECT max(po_number) AS wm FROM sink)
SELECT vendor, description, picker, charge_code, po_number
FROM items WHERE po_number > (SELECT wm FROM wm)
"""


ROUTES = ("over_1500", "under_1500")


def routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: the $1500 value-split as one job — a `route` column instead of
    three deployed script instances writing to two sink tables."""
    items = io.seamless_items(spark, sf_dir)
    over, under = ROUTES
    return items.select(
        "po_number",
        "vendor",
        "charge_code",
        F.round("amount", 2).alias("amount"),
        F.when(F.col("amount") >= 1500.0, F.lit(over))
        .otherwise(F.lit(under))
        .alias("route"),
    )


ROUTED_SQL = f"""
WITH items AS ({io.SEAMLESS_ITEMS_SQL})
SELECT po_number, vendor, charge_code, round(amount, 2) AS amount,
       CASE WHEN amount >= 1500.0 THEN 'over_1500' ELSE 'under_1500' END AS route
FROM items
"""


def write_routed(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Materialize the A12 split to two append sinks (partitioned write).

    ``partitionBy('route')`` makes the split a *single* pass — one scan,
    one write, two physical table directories — instead of two filtered
    jobs scanning the source twice. At 100 TB this halves the read. The
    per-route row counts are observed on that same write, so reporting
    them runs no second job. Routes without rows are left out.
    """
    route = F.col("route")
    counts = Observation()
    (
        routed(spark, sf_dir)
        .observe(counts, *[F.count(F.when(route == r, 1)).alias(r) for r in ROUTES])
        .write.mode("append")
        .partitionBy("route")
        .parquet(out_dir)
    )
    return {r: n for r, n in counts.get.items() if n}


def run_incremental_append(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> int:
    """Flagship load → TRANSACTIONAL exactly-once append (A10/A11).

    SURVEY.md §7.3#5 closed: the batch lands through the manifest-
    commit sink (``sinks.commit_append``) keyed by the batch frontier
    as the transaction id. A crash between the data write and the
    manifest flip leaves the sink logically unchanged (readers resolve
    files through the committed manifest only), and a re-run of the
    same frontier is a no-op instead of a duplicate — strictly stronger
    than round 2's key-range overwrite, which was idempotent but not
    atomic against concurrent readers. Returns the committed
    snapshot's row count, read from its manifest.

    The watermark and the txn id come from one read of two scalar
    aggregates over ``orders``, and the batch is written from that
    same watermark: the rows of ``incremental_load``, but filtered by
    ``po_number >`` the watermark as a literal, so the write does not
    recompute it, and the id always names the batch that was written
    even if ``orders`` changes meanwhile. With ``k0`` the 60% frontier
    of ``incremental_load``, the watermark is the largest key
    ``<= k0``, so no key lies strictly between it and ``k0``, and
    ``seamless_items`` has one row per order (a left join on the
    unique ``c_custkey``). Hence the batch's first key, which the txn
    id names, is the smallest key ``> k0``, and the batch is empty
    when no key is ``<= k0`` (no watermark) or none is ``> k0``.
    """
    from . import sinks

    key = F.col("o_orderkey")
    orders = io.load_table(spark, sf_dir, "orders")
    k0 = orders.agg(F.floor(F.max(key) * F.lit(0.6)).cast("long")).first()[0]
    if k0 is None:
        return 0
    lo, wm = orders.agg(
        F.min(F.when(key > k0, key)), F.max(F.when(key <= k0, key))
    ).first()
    if lo is None or wm is None:
        return 0
    items = io.seamless_items(spark, sf_dir)
    batch = _sink_batch(items.filter(F.col("po_number") > F.lit(io.PO_FORMAT % wm)))
    snap = sinks.commit_append(
        batch, out_dir, txn_id=f"batch_from_{io.PO_FORMAT % lo}"
    )
    return snap["rows"]
