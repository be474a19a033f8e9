"""Join operators: broadcast, shuffle, semi/anti, outer, cross, range, as-of.

Provenance: SURVEY.md §2 Tier B, Joins row (the reference performs no
joins — SURVEY.md §2 "Notably absent").

Scale posture per join:
  * dim joins (region/nation/customer enrich) — explicit ``F.broadcast``:
    zero shuffle of the fact side at any scale.
  * fact⋈fact (orders⋈lineitem) — shuffle join on the key; AQE picks
    sort-merge vs shuffled-hash and splits skewed partitions. Both sides
    are pre-filtered *before* the join so the shuffle carries the
    minimum (filter pushdown reaches the scans).
  * range/theta (events band join) — equi-key on user_id carries the
    shuffle; the ts-band is a post-join predicate, so this is a hash
    join + filter, NOT a nested loop. Output is sparse.
  * as-of — implemented as union + window (single shuffle by key,
    linear state), not join+filter+rank (which would materialize the
    full candidate set). This is the 100 TB-safe as-of shape.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io, portable
from . import bloom
from .iterative import iterate


def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region (both dims broadcast): per-region stats."""
    c = io.load_table(spark, sf_dir, "customer")
    n = io.load_table(spark, sf_dir, "nation")
    r = io.load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


BROADCAST_DIM_SQL = """
SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def shuffle_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem (fact⋈fact shuffle join) → revenue per priority.

    Filters sit under the join on both sides so the scans prune first.
    """
    o = io.load_table(spark, sf_dir, "orders")
    li = io.load_table(spark, sf_dir, "lineitem")
    return (
        o.filter(F.col("o_orderstatus") != "P")
        .join(
            li.filter(F.col("l_quantity") > 5.0),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SHUFFLE_FACT_SQL = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderstatus <> 'P' AND l_quantity > 5.0
GROUP BY o_orderpriority
"""


def left_join_null_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer LEFT JOIN orders; histogram of orders-per-customer
    (customers with zero orders appear via the null arm)."""
    c = io.load_table(spark, sf_dir, "customer")
    o = io.load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))  # count skips nulls
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


LEFT_JOIN_HIST_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, count(*) AS n_customers FROM per_cust GROUP BY n_orders
"""


def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left-semi: customers having ≥1 finished ('F') order."""
    c = io.load_table(spark, sf_dir, "customer")
    o = io.load_table(spark, sf_dir, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "F"),
        c.c_custkey == o.o_custkey,
        "left_semi",
    ).select("c_custkey", "c_name", "c_mktsegment")


SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


def anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti: customers with no pending ('P') order.

    (Pending, not "no orders at all": at sf≥0.01 every customer has
    orders, which would make the result empty and the check vacuous.)
    """
    c = io.load_table(spark, sf_dir, "customer")
    o = io.load_table(spark, sf_dir, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "P"),
        c.c_custkey == o.o_custkey,
        "left_anti",
    ).select("c_custkey", "c_name", "c_acctbal")


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
"""


def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER over two disjoint-ish aggregates of customer keys:
    big spenders vs low-balance accounts; both null arms populated."""
    o = io.load_table(spark, sf_dir, "orders")
    c = io.load_table(spark, sf_dir, "customer")
    spenders = (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .filter(F.col("total_spent") > 400000)
    )
    low_bal = c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    return (
        spenders.join(low_bal, spenders.o_custkey == low_bal.c_custkey, "full_outer")
        .select(
            F.coalesce("o_custkey", "c_custkey").alias("custkey"),
            "total_spent",
            "acctbal",
        )
    )


FULL_OUTER_SQL = """
WITH spenders AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
  FROM orders GROUP BY o_custkey HAVING round(sum(o_totalprice), 2) > 400000
),
low_bal AS (
  SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer WHERE c_acctbal < 0
)
SELECT coalesce(o_custkey, c_custkey) AS custkey, total_spent, acctbal
FROM spenders FULL OUTER JOIN low_bal ON o_custkey = c_custkey
"""


def cross_join_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-loop cross join of two tiny relations (the only sane use)."""
    r = io.load_table(spark, sf_dir, "region")
    statuses = (
        io.load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    )
    return r.crossJoin(statuses).select("r_name", "o_orderstatus")


CROSS_JOIN_SQL = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
"""


def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: for each error event, clicks by the same user in
    the preceding hour. Equi-key (user_id) drives the hash join; the ts
    band is a residual predicate — no nested loop, no explosion."""
    ev = io.load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("clk_user"),
        F.col("ts").alias("clk_ts"),
        F.col("value").alias("clk_value"),
    )
    return (
        errors.join(
            clicks,
            (F.col("err_user") == F.col("clk_user"))
            & (F.col("clk_ts") <= F.col("err_ts"))
            & (F.col("clk_ts") >= F.col("err_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("err_id", "err_user")
        .agg(
            F.count(F.lit(1)).alias("n_clicks_before"),
            F.round(F.sum("clk_value"), 4).alias("sum_click_value"),
        )
    )


RANGE_BAND_SQL = """
SELECT a.event_id AS err_id, a.user_id AS err_user,
       count(*) AS n_clicks_before,
       round(sum(b.value), 4) AS sum_click_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.event_type = 'click' AND a.event_type = 'error'
 AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP)
 AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP) - INTERVAL 1 HOUR
GROUP BY a.event_id, a.user_id
"""


def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent click (ts ≤ purchase
    ts) by the same user.

    Union + running ``last(ignorenulls)`` window: one shuffle on
    user_id, O(1) state per row — the scalable as-of (a join + rank
    would materialize every candidate pair). Ties at equal ts resolve
    clicks-before-purchases, then event_id (total order ⇒ deterministic).
    """
    ev = io.load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        "event_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .withColumn("last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            "last_click_value",
        )
    )


ASOF_JOIN_SQL = """
WITH tagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, 0 AS tag, event_id,
         CAST(ts AS TIMESTAMP) AS click_ts, value AS click_value
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, 1 AS tag, event_id,
         NULL, NULL
  FROM events WHERE event_type = 'purchase'
),
runn AS (
  SELECT *,
         last_value(click_ts IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY ts, tag, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts,
         last_value(click_value IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY ts, tag, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
  FROM tagged
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       last_click_ts, last_click_value
FROM runn WHERE tag = 1
"""


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join via bucketing — the zero-shuffle join.

    Both sides are written once as tables bucketed AND sorted by the
    join key into the same bucket count; the join then runs as a
    sort-merge with NO Exchange on either side (asserted in
    tests/test_joins_bucketed.py). This is the 100 TB recipe for a
    repeatedly-joined fact pair: pay the shuffle once at layout time,
    never again per query.
    """

    def bucketed(table: str, key: str, *cols: str) -> DataFrame:
        # catalog table named after its stage dir, so the name carries
        # the fixture's name and token
        path = io.stage_dir(sf_dir, f"{table}-bucketed")
        name = "t_" + re.sub(r"\W", "_", os.path.basename(path))
        if not spark.catalog.tableExists(name):
            io.load_table(spark, sf_dir, table).select(key, *cols).write.bucketBy(
                8, key
            ).sortBy(key).option("path", path).mode("overwrite").saveAsTable(name)
        return spark.table(name)

    o = bucketed("orders", "o_orderkey", "o_orderdate", "o_totalprice")
    li = bucketed("lineitem", "l_orderkey", "l_extendedprice", "l_discount")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


BUCKETED_JOIN_SQL = """
SELECT year(o_orderdate) AS yr,
       count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


def lateral_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: top-2 orders per customer via a
    per-row dependent subquery (the SQL-standard form of top-N-per-key;
    win_topn_per_group is the window-function twin).

    Catalyst decorrelates the lateral subquery into a ranked join — the
    physical plan is one shuffle on the correlation key, not an
    N-times-executed subquery, so the shape is 100 TB-safe.
    """
    io.load_table(spark, sf_dir, "customer").createOrReplaceTempView("sse_customer")
    io.load_table(spark, sf_dir, "orders").createOrReplaceTempView("sse_orders_l")
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, round(l.o_totalprice, 2) AS price
        FROM sse_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM sse_orders_l
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) l
        """
    )


LATERAL_TOPN_SQL = """
SELECT c.c_custkey, l.o_orderkey, round(l.o_totalprice, 2) AS price
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) l
"""


N_JOIN_SALT = 8


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi-join — the manual salting recipe as a REAL join
    (complement of agg_salted_twophase, which salts an aggregation).

    A hot join key sends its entire row set to one reducer in a plain
    shuffle join. Salting spreads it: the BIG side (lineitem) gets a
    random-but-deterministic salt in [0, k); the SMALL side (orders) is
    exploded k× — one replica per salt value — and the join runs on
    (key, salt), splitting each hot key across k reducers. Result is
    IDENTICAL to the unsalted join (the oracle is the plain join); only
    the shuffle distribution changes. Cost: small side ×k in the
    shuffle — the standard trade. AQE's skew-join split handles
    *detected* runtime skew; explicit salting is for KNOWN-pathological
    keys where you want the split guaranteed at plan time.
    """
    li = io.load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    o = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    big = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(N_JOIN_SALT))
    )
    small = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_JOIN_SALT - 1)).cast("array<bigint>"))
    )
    joined = big.join(
        small,
        (big.l_orderkey == small.o_orderkey) & (big.salt == small.salt),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_order_price"),
        )
        .orderBy("o_orderpriority")
    )


SALTED_SKEW_JOIN_SQL = """
SELECT o_orderpriority,
       count(*) AS n_lines,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(max(o_totalprice), 2) AS max_order_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity > 45
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


FUZZY_MAX_DIST = 2


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution primitive: supplier-name pairs within
    levenshtein distance FUZZY_MAX_DIST — the fuzzy vendor matcher a
    master-data pipeline runs before deduplicating entities.

    Blocked, never all-pairs: candidates come from an EQUI-join on
    s_nationkey (the blocking key), so the quadratic edit-distance
    verify runs only inside blocks — the same candidate-generation
    discipline as the near-dup family. At 100 TB the blocking key
    would be a phonetic/prefix code; the structure is identical.
    Levenshtein is exactly specified, so DuckDB hash-matches it.
    """
    s = io.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    a = s.select(
        F.col("s_nationkey").alias("nk"),
        F.col("s_suppkey").alias("key_a"),
        F.col("s_name").alias("name_a"),
    )
    b = s.select(
        F.col("s_nationkey").alias("nk"),
        F.col("s_suppkey").alias("key_b"),
        F.col("s_name").alias("name_b"),
    )
    return (
        a.join(b, "nk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("key_a", "key_b", "dist")
    )


FUZZY_NAME_MATCH_SQL = f"""
SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
       levenshtein(a.s_name, b.s_name) AS dist
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= {FUZZY_MAX_DIST}
"""




BLOOM_M_BITS = 65536  # bitmap width (8 KB) — scale with build-side keys
BLOOM_H = 3  # hash functions


def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-bloom-filtered join, with the Bloom filter ITSELF built
    from DataFrame aggregates (Spark's `bloom_filter_agg` is optimizer-
    internal and not SQL-registered, so the engine owns the mechanism):

      build:  selective orders keys → H seeded hash positions →
              bit-OR per 64-bit word (distributed hash agg, ≤ m/64
              rows) → ONE dense array<long> row.
      probe:  the 8 KB bitmap rides a 1-row broadcast; each fact row
              tests all H positions with pure JVM shift/mask
              expressions and dies at the scan stage on a miss.

    Why it matters at 100 TB: when the build side is selective but too
    big to broadcast as keys, a sort-merge join still shuffles the
    ENTIRE fact; the bloom cuts shuffle volume to (selectivity + FP)
    of the fact for a few-MB broadcast. False positives are harmless —
    the exact join removes them — so the result is IDENTICAL to the
    plain join, which is exactly what the DuckDB oracle (a plain
    join) checks.
    """
    o = io.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    bitmap = bloom.bloom_bitmap(o, "o_orderkey", BLOOM_M_BITS, BLOOM_H)
    li = io.load_table(spark, sf_dir, "lineitem")
    prefiltered = (
        li.join(F.broadcast(bitmap))
        .filter(bloom.bloom_hit("l_orderkey", BLOOM_M_BITS, BLOOM_H))
        .drop("bm")
    )
    return (
        prefiltered.join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


BLOOM_PREFILTER_SQL = """
SELECT o_orderpriority, count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


SKEW_SHARE_BP = 10  # salt when the hottest key holds > 0.1% of rows


def auto_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuning join: measure the join key's skew first (the
    ``diag_join_key_skew`` profile as a 1-row aggregate), then pick the
    physical strategy from the measurement — plain shuffle join when
    the key is balanced, salted (× N_JOIN_SALT) when the hottest key
    exceeds SKEW_SHARE_BP of the rows. The answer is IDENTICAL either
    way (the oracle is the plain join); only the shuffle layout
    changes — this is the engine making the salting decision the
    operator docs otherwise leave to the operator.

    The profile collect is a 1-row scalar frontier (same class as the
    watermark read): one cheap agg over the join column, metadata-
    scale at any SF. At 100 TB AQE's runtime skew split covers
    *detected* skew mid-query; the measured pre-decision is for
    pipelines that must PLAN the layout (e.g. to co-partition a
    downstream write).
    """
    li = io.load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    o = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    prof = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .collect()[0]
    )
    # empty filtered side → max/sum are NULL: nothing to salt
    skewed = bool(prof["tot"]) and prof["mx"] * 10000 > SKEW_SHARE_BP * prof["tot"]
    if skewed:
        big = li.withColumn(
            "salt",
            F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(N_JOIN_SALT)),
        )
        small = o.withColumn(
            "salt",
            F.explode(
                F.sequence(F.lit(0), F.lit(N_JOIN_SALT - 1)).cast("array<bigint>")
            ),
        )
        joined = big.join(
            small,
            (big.l_orderkey == small.o_orderkey) & (big.salt == small.salt),
        )
    else:
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


AUTO_SKEW_JOIN_SQL = """
SELECT o_orderpriority, count(*) AS n_lines,
       round(sum(o_totalprice), 2) AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity > 45
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


BASKET_TOP = 25


def market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over order baskets: for every part
    pair co-ordered in the same order, support (co-order count) and
    lift in basis points — the association-rule primitive (apriori's
    size-2 frontier, which in practice carries most of the value of a
    basket analysis).

    Posting-list discipline, not a self-join: each order's distinct
    sorted part array explodes its own C(k,2) pairs IN-ARRAY (TPC-H
    baskets hold ≤7 items, so the explode factor is ≤21 and map-side);
    the only shuffles are the basket collect and the (pa,pb) pair
    count. Per-part basket counts come from the same basket relation
    and broadcast into the lift expression; lift_bp =
    ⌊support·n_baskets·10⁴ / (cₐ·c_b)⌋ computed in DOUBLE — int64
    looked exact but support·n_baskets·10⁴ overflows BIGINT past ~1e7
    baskets and ANSI turns that into a query-killing error (review);
    doubles are exact below 2^53 and both engines floor the same IEEE
    quotient, so parity holds while large corpora degrade gracefully
    instead of crashing. A 100 TB catalog would cap per-basket arity
    the same way MAX_POSTING caps shingle postings. Top-{BASKET_TOP}
    by (support, pair) is TakeOrderedAndProject.
    """
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # ONE wide shuffle for the whole query (r9): partition by basket
    # key first — HashPartitioning(l_orderkey) satisfies the clustered
    # distribution of the (l_orderkey, l_partkey) distinct, the basket
    # collect, AND the n_baskets distinct below (subset rule), and AQE
    # stage reuse serves all three references of `b` from the same
    # materialized exchange instead of re-scanning lineitem per
    # reference. The old shape paid EX(o,p) then EX(o) back to back.
    b = li.repartition("l_orderkey").distinct()
    baskets = b.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    sup = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("support"))
    # part counts and the basket total come from the flat distinct
    # relation, NOT from re-deriving the collect_set baskets — Catalyst
    # re-derives shared subtrees per reference, and the basket collect
    # is the expensive aggregate (plan golden pins one ObjectHashAgg)
    part_counts = b.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # n_baskets rides a broadcast 1-row aggregate (the oracle's CROSS
    # JOIN n shape) instead of a driver collect — one fewer
    # driver-synchronized job per pass, same scalar
    nb = (
        b.select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    ca = part_counts.select(F.col("part").alias("pa"), F.col("c").alias("ca"))
    cb = part_counts.select(F.col("part").alias("pb"), F.col("c").alias("cb"))
    return (
        sup.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .crossJoin(F.broadcast(nb))
        .select(
            "pa",
            "pb",
            "support",
            F.expr(
                "CAST(floor(CAST(support AS DOUBLE) * n_baskets"
                " * 10000 / (CAST(ca AS DOUBLE) * cb)) AS BIGINT)"
            ).alias("lift_bp"),
        )
        .orderBy(F.col("support").desc(), "pa", "pb")
        .limit(BASKET_TOP)
    )


MARKET_BASKET_SQL = f"""
WITH b AS (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2
),
sup AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, count(*) AS support
  FROM b a JOIN b c
    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
),
pc AS (SELECT l_partkey AS part, count(*) AS c FROM b GROUP BY 1),
n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM b)
SELECT pa, pb, support,
       CAST(floor(CAST(support AS DOUBLE) * n_baskets * 10000
                  / (CAST(ca.c AS DOUBLE) * cb.c)) AS BIGINT) AS lift_bp
FROM sup
CROSS JOIN n
JOIN pc ca ON ca.part = pa
JOIN pc cb ON cb.part = pb
ORDER BY support DESC, pa, pb LIMIT {BASKET_TOP}
"""


GEO_R = 2_000_000  # radius in integer micro-degrees (2°), planar


def geo_gridblock_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via grid blocking — the scale pattern for
    "find all (customer, supplier) pairs within R": synthesize
    deterministic planar positions in integer micro-degrees from each
    key (no geo columns in the fixture; the LCG mix is identical in
    both engines), bucket into R-sized grid cells, explode one side
    into its 3×3 neighborhood (map-side ×9), equi-join on the cell,
    and verify the exact integer distance² only inside candidate
    cells. The oracle runs the naive quadratic theta join — proving
    the blocked plan loses NO pair and adds none. At 100 TB the
    candidate count is Σ|cell|·|neighborhood|, never |C|·|S|, and the
    join key is a 2-int cell id — the same candidates-then-verify
    discipline as the near-dup family.
    """
    def pos(df, key):
        h = portable.lcg31(F.col(key))
        h2 = portable.lcg31b(F.col(key))
        return df.select(
            F.col(key).alias("id"),
            (h % 180_000_001 - 90_000_000).alias("lat"),
            (h2 % 360_000_001 - 180_000_000).alias("lon"),
        )

    c = pos(
        io.load_table(spark, sf_dir, "customer").select("c_custkey"),
        "c_custkey",
    )
    s = pos(
        io.load_table(spark, sf_dir, "supplier").select("s_suppkey"),
        "s_suppkey",
    )
    cell = lambda col: F.floor(F.col(col) / GEO_R).cast("long")  # noqa: E731
    cg = c.select(
        F.col("id").alias("cid"),
        F.col("lat").alias("clat"),
        F.col("lon").alias("clon"),
        cell("lat").alias("gla"),
        cell("lon").alias("glo"),
    )
    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    sg = (
        s.select(
            F.col("id").alias("sid"),
            F.col("lat").alias("slat"),
            F.col("lon").alias("slon"),
            cell("lat").alias("sla"),
            cell("lon").alias("slo"),
        )
        .withColumn("dla", off)
        .withColumn("dlo", off)
        .select(
            "sid",
            "slat",
            "slon",
            (F.col("sla") + F.col("dla")).alias("gla"),
            (F.col("slo") + F.col("dlo")).alias("glo"),
        )
    )
    d2 = (F.col("clat") - F.col("slat")) * (F.col("clat") - F.col("slat")) + (
        F.col("clon") - F.col("slon")
    ) * (F.col("clon") - F.col("slon"))
    pairs = (
        cg.join(sg, ["gla", "glo"])
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(GEO_R * GEO_R))  # precomputed: int32 lit*lit overflows under ANSI
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("cid").alias("n_customers_matched"),
        F.countDistinct("sid").alias("n_suppliers_matched"),
        F.min("d2").alias("min_d2"),
        F.sum("d2").alias("sum_d2"),
    )


GEO_GRIDBLOCK_SQL = f"""
WITH c AS (
  SELECT c_custkey AS cid,
         {portable.lcg31_sql("c_custkey")} % 180000001
           - 90000000 AS lat,
         {portable.lcg31b_sql("c_custkey")} % 360000001
           - 180000000 AS lon
  FROM customer
),
s AS (
  SELECT s_suppkey AS sid,
         {portable.lcg31_sql("s_suppkey")} % 180000001
           - 90000000 AS lat,
         {portable.lcg31b_sql("s_suppkey")} % 360000001
           - 180000000 AS lon
  FROM supplier
),
p AS (
  SELECT cid, sid,
         (c.lat - s.lat) * (c.lat - s.lat)
           + (c.lon - s.lon) * (c.lon - s.lon) AS d2
  FROM c, s
  WHERE (c.lat - s.lat) * (c.lat - s.lat)
          + (c.lon - s.lon) * (c.lon - s.lon)
        <= CAST({GEO_R} AS BIGINT) * {GEO_R}
)
SELECT count(*) AS n_pairs,
       count(DISTINCT cid) AS n_customers_matched,
       count(DISTINCT sid) AS n_suppliers_matched,
       CAST(min(d2) AS BIGINT) AS min_d2,
       CAST(sum(d2) AS BIGINT) AS sum_d2
FROM p
"""


# ---------------------------------------------------------------------------
# Nearest-event as-of join (bidirectional, bounded)
# ---------------------------------------------------------------------------

NEAREST_WINDOW_US = 30 * 60 * 1_000_000  # ±30 min


def asof_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-click join: for every purchase, the user's temporally
    NEAREST click within ±30 minutes — both directions, unlike the
    backward-only `join_asof_last_click` — ties broken toward the
    earlier click. The sensor-fusion / clickstream shape ("align each
    reading with the closest calibration sample").

    Never a theta join: one user-keyed sort carries the last click
    backward (rows UNBOUNDED PRECEDING..CURRENT) and the next click
    forward (CURRENT..UNBOUNDED FOLLOWING) as IGNORE-NULLS window
    values over the SAME exchange, then a per-row CASE picks the
    nearer side. Cost at 100 TB = exactly one shuffle of the two
    event types, two window passes on it. All arithmetic on
    microsecond integers; fully SQL-oracled.
    """
    e = io.load_table(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    cs = F.when(
        F.col("event_type") == "click", F.struct("ts_us", "event_id")
    )
    tagged = base.select(
        "user_id",
        "event_id",
        "ts_us",
        "event_type",
        F.last(cs, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("back"),
        F.first(cs, ignorenulls=True)
        .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        .alias("fwd"),
    )
    p = tagged.filter(F.col("event_type") == "purchase")
    d_back = F.col("ts_us") - F.col("back.ts_us")
    d_fwd = F.col("fwd.ts_us") - F.col("ts_us")
    back_ok = F.col("back").isNotNull() & (d_back <= NEAREST_WINDOW_US)
    fwd_ok = F.col("fwd").isNotNull() & (d_fwd <= NEAREST_WINDOW_US)
    pick_back = back_ok & (~fwd_ok | (d_back <= d_fwd))
    pick_fwd = fwd_ok & ~pick_back
    # -1 sentinels instead of NULLs: NULL cells sort/hash differently
    # through value canonicalizers (the ndarray-crash lesson's cousin)
    return p.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.coalesce(
            F.when(pick_back, F.col("back.event_id")).when(
                pick_fwd, F.col("fwd.event_id")
            ),
            F.lit(-1).cast("long"),
        ).alias("click_id"),
        F.coalesce(
            F.when(pick_back, d_back).when(pick_fwd, d_fwd),
            F.lit(-1).cast("long"),
        ).alias("abs_delta_us"),
        F.when(pick_back, F.lit("back"))
        .when(pick_fwd, F.lit("fwd"))
        .otherwise(F.lit("none"))
        .alias("direction"),
    ).orderBy("user_id", "purchase_id")


ASOF_NEAREST_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_type
  FROM events WHERE event_type IN ('click', 'purchase')
),
tagged AS (
  SELECT user_id, event_id, ts_us, event_type,
         last_value(CASE WHEN event_type = 'click'
                         THEN struct_pack(ts_us := ts_us, event_id := event_id)
                    END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back,
         first_value(CASE WHEN event_type = 'click'
                          THEN struct_pack(ts_us := ts_us, event_id := event_id)
                     END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd
  FROM base
),
p AS (
  SELECT user_id, event_id, ts_us,
         back, fwd,
         ts_us - back.ts_us AS d_back,
         fwd.ts_us - ts_us AS d_fwd,
         back IS NOT NULL AND ts_us - back.ts_us <= {NEAREST_WINDOW_US} AS back_ok,
         fwd IS NOT NULL AND fwd.ts_us - ts_us <= {NEAREST_WINDOW_US} AS fwd_ok
  FROM tagged WHERE event_type = 'purchase'
)
SELECT user_id, event_id AS purchase_id,
       coalesce(CASE WHEN back_ok AND (NOT fwd_ok OR d_back <= d_fwd)
                       THEN back.event_id
                     WHEN fwd_ok THEN fwd.event_id END,
                CAST(-1 AS BIGINT)) AS click_id,
       coalesce(CASE WHEN back_ok AND (NOT fwd_ok OR d_back <= d_fwd)
                       THEN d_back
                     WHEN fwd_ok THEN d_fwd END,
                CAST(-1 AS BIGINT)) AS abs_delta_us,
       CASE WHEN back_ok AND (NOT fwd_ok OR d_back <= d_fwd) THEN 'back'
            WHEN fwd_ok THEN 'fwd'
            ELSE 'none' END AS direction
FROM p
ORDER BY user_id, purchase_id
"""


INTERVAL_BUCKET_DAYS = 3  # ±3-day attribution window


def interval_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via BUCKET REPLICATION: every order opens
    a ±{INTERVAL_BUCKET_DAYS}-day window, and each customer event is
    matched to the windows it falls inside — the attribution primitive
    (which orders was this activity near?) that a plain range predicate
    turns into a per-key cross product.

    The scale pattern this query exists to pin: intervals are EXPLODED
    to the day buckets they cover (a bounded ×{2 * INTERVAL_BUCKET_DAYS + 1}
    map-side fan-out), points live in exactly one bucket, and the join
    becomes a pure EQUI-join on (customer, day-bucket) that hash
    partitions — no non-equi condition reaches the join, so Catalyst
    can never fall back to a nested-loop or a per-key quadratic probe.
    Day granularity == window granularity here, so the bucket match is
    exact and no residual filter is needed; coarser buckets would add
    one (the comment is the pattern's contract). Day numbers are pure
    integers on both engines (epoch-day arithmetic, NOTES trap 1).
    """
    ev = io.load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("user_id").alias("ck"),
        F.expr("datediff(to_date(ts), DATE '1970-01-01')").alias("d_day"),
    )
    od = (
        io.load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("ck"),
            F.expr("datediff(to_date(o_orderdate), DATE '1970-01-01')").alias(
                "o_day"
            ),
        )
        .withColumn(
            "bkt",
            F.explode(
                F.expr(
                    f"sequence(o_day - {INTERVAL_BUCKET_DAYS},"
                    f" o_day + {INTERVAL_BUCKET_DAYS})"
                )
            ),
        )
    )
    pairs = ev.join(od, (ev.ck == od.ck) & (ev.d_day == od.bkt))
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("event_id").cast("long").alias("n_events_matched"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders_matched"),
        )
        .orderBy("event_type")
    )


INTERVAL_BUCKETED_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_events_matched,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders_matched
FROM events e JOIN orders o
  ON e.user_id = o.o_custkey
 AND abs((CAST(e.ts AS DATE) - DATE '1970-01-01')
         - (CAST(o.o_orderdate AS DATE) - DATE '1970-01-01'))
     <= {INTERVAL_BUCKET_DAYS}
GROUP BY event_type
ORDER BY event_type
"""


def min_label_cc(edges: DataFrame, what: str) -> tuple[DataFrame, int]:
    """Exact min-label connected components over an undirected edge
    relation (first column, second column) — the engine's one CC
    kernel. Returns ``(labels, rounds)``: ``labels`` is ``(k, label)``
    with ``label`` = the component's minimum member id, one row per
    vertex that appears in ``edges`` (isolated vertices are absent;
    callers coalesce to the vertex's own id), and ``rounds`` is how
    many rounds the loop took to converge.

    Scale: per round one vertex-keyed hash join + min-aggregate
    (relax) plus one label-keyed self-join (pointer doubling), run by
    the ``iterative.iterate`` loop, which checkpoints every round
    and raises (``what`` names the caller) rather than return a
    silently split partition; doubling makes the round count
    O(log diameter) instead of one round per hop. The DuckDB oracles
    of every caller replay the same partition as a WITH RECURSIVE
    reachability walk.
    """
    lo, hi = edges.columns
    # lazy: iterate's first label-sum job reads every partition
    sym = (
        edges.select(F.col(lo).alias("ka"), F.col(hi).alias("kb"))
        .unionAll(edges.select(F.col(hi).alias("ka"), F.col(lo).alias("kb")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("ka").alias("k"))
        .distinct()
        .select("k", F.col("k").alias("label"))
    )

    def relax_and_double(labels: DataFrame) -> DataFrame:
        msgs = sym.join(labels, sym.ka == labels.k).select(
            F.col("kb").alias("k"), "label"
        )
        relaxed = (
            labels.unionAll(msgs)
            .groupBy("k")
            .agg(F.min("label").alias("label"))
            # checkpoint BEFORE the doubling self-join: both references
            # read the stored partitions instead of re-running the
            # relax aggregate (Catalyst inlines self-joined subtrees)
            .localCheckpoint(eager=False)
        )
        # Pointer doubling: label(k) is always a member id of k's
        # component, so label(label(k)) is too — folding it in each
        # round makes convergence O(log diameter) driver barriers
        # instead of one per hop (supplier name chains gave the entity
        # resolution graph a ~25-hop diameter).
        l2 = relaxed.select(F.col("k").alias("lk"), F.col("label").alias("l2"))
        return relaxed.join(l2, relaxed.label == l2.lk, "left").select(
            "k", F.least("label", F.coalesce("l2", "label")).alias("label")
        )

    # Convergence by the monotone label-sum invariant: both steps only
    # ever DECREASE a vertex's label within its component, so Σ label
    # is strictly decreasing until the fixpoint and equal exactly at
    # it — the same one-hop fixpoint the oracles' WITH RECURSIVE walk
    # computes — at the cost of one scalar per round.
    return iterate(labels, relax_and_double, F.sum("label"), what)


def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full entity-resolution pipeline over supplier names: the fuzzy
    match edges (nation-blocked levenshtein ≤ {FUZZY_MAX_DIST}, the
    `join_fuzzy_name_match` candidate discipline) close transitively
    into canonical entities — blocking → pairwise scoring → clustering,
    the master-data dedup every CRM/vendor pipeline runs. Output is one
    row per entity (canonical id = min member key, member count, key
    digest), singletons included.

    Clustering is the shared ``min_label_cc`` kernel over the fuzzy
    edges; suppliers with no edge get their own key as entity id
    through one left join from ``supplier``. EXACTLY oracled: the
    DuckDB twin computes the same transitive closure as a WITH
    RECURSIVE reachability walk (the `graph_bfs_depth` precedent).
    """
    s = io.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"), "s_name", "s_nationkey"
    )
    a = s.select(
        F.col("s_nationkey").alias("nk"),
        F.col("k").alias("ka"),
        F.col("s_name").alias("na"),
    )
    b = s.select(
        F.col("s_nationkey").alias("nk"),
        F.col("k").alias("kb"),
        F.col("s_name").alias("nb"),
    )
    edges = (
        a.join(b, "nk")
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein("na", "nb") <= FUZZY_MAX_DIST)
        .select("ka", "kb")
    )
    labels, _rounds = min_label_cc(edges, "entity_resolution")
    return (
        s.select("k")
        .join(labels, "k", "left")
        .select("k", F.coalesce("label", "k").alias("label"))  # singletons
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("k").cast("long").alias("member_key_sum"),
        )
        .select(
            F.col("label").cast("long").alias("entity_id"),
            "n_members",
            "member_key_sum",
        )
        .orderBy("entity_id")
    )


ENTITY_RESOLUTION_SQL = f"""
WITH RECURSIVE
edges AS (
  SELECT a.s_suppkey AS ka, b.s_suppkey AS kb
  FROM supplier a JOIN supplier b
    ON a.s_nationkey = b.s_nationkey
   AND a.s_suppkey < b.s_suppkey
   AND levenshtein(a.s_name, b.s_name) <= {FUZZY_MAX_DIST}
),
sym AS (SELECT ka, kb FROM edges UNION ALL SELECT kb, ka FROM edges),
reach (k, r) AS (
  SELECT s_suppkey, s_suppkey FROM supplier
  UNION
  SELECT reach.k, sym.kb FROM reach JOIN sym ON reach.r = sym.ka
),
entity AS (SELECT k, min(r) AS entity_id FROM reach GROUP BY k)
SELECT CAST(entity_id AS BIGINT) AS entity_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(k) AS BIGINT) AS member_key_sum
FROM entity GROUP BY entity_id
ORDER BY entity_id
"""


QUERIES = {
    "join_broadcast_dim": (broadcast_dim_join, BROADCAST_DIM_SQL),
    "join_shuffle_fact": (shuffle_fact_join, SHUFFLE_FACT_SQL),
    "join_left_null_histogram": (left_join_null_histogram, LEFT_JOIN_HIST_SQL),
    "join_semi_exists": (semi_join_exists, SEMI_JOIN_SQL),
    "join_anti_not_exists": (anti_join_not_exists, ANTI_JOIN_SQL),
    "join_full_outer": (full_outer_join, FULL_OUTER_SQL),
    "join_cross_small": (cross_join_small, CROSS_JOIN_SQL),
    "join_range_band": (range_band_join, RANGE_BAND_SQL),
    "join_asof_last_click": (asof_join_last_click, ASOF_JOIN_SQL),
    "join_bucketed_colocated": (bucketed_colocated_join, BUCKETED_JOIN_SQL),
    "join_lateral_topn": (lateral_topn_per_customer, LATERAL_TOPN_SQL),
    "join_salted_skew": (salted_skew_join, SALTED_SKEW_JOIN_SQL),
    "join_fuzzy_name_match": (fuzzy_name_match, FUZZY_NAME_MATCH_SQL),
    "join_bloom_prefilter": (bloom_prefilter_join, BLOOM_PREFILTER_SQL),
    "join_auto_skew_remedy": (auto_skew_join, AUTO_SKEW_JOIN_SQL),
    "join_market_basket": (market_basket, MARKET_BASKET_SQL),
    "join_geo_gridblock": (geo_gridblock_join, GEO_GRIDBLOCK_SQL),
    "join_asof_nearest": (asof_nearest_join, ASOF_NEAREST_SQL),
    "join_interval_bucketed": (interval_bucketed_join, INTERVAL_BUCKETED_SQL),
    "join_entity_resolution": (entity_resolution, ENTITY_RESOLUTION_SQL),
}
