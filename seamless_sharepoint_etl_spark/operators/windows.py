"""Window-function operators: rank/top-N, lag/lead, running & framed aggs.

Provenance: SURVEY.md §2 Tier B, Window-functions row (explicitly
absent from the reference — SURVEY.md §2 "Notably absent").

Scale posture: every window here partitions by a real key (priority,
customer, user) — state per partition is bounded and the single shuffle
is on the partition key. No global (unpartitioned) windows: those
serialize the dataset through one task and are forbidden in this
engine at 100 TB (a global rank is expressed as orderBy+limit instead,
see sorts_setops; a running sum or row number over a whole relation is
``running_sums``).

Determinism policy: any ORDER BY that feeds row_number/ntile/lag gets a
unique tie-break column so the oracle can't disagree on tie order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io

RUN_BUCKETS = 64


def running_sums(
    df: DataFrame,
    key: Column,
    tiebreak: Sequence[str | Column],
    sums: dict[str, Column],
    by: Sequence[str] = (),
) -> DataFrame:
    """``df`` plus, for each ``name: expr`` of ``sums``, the inclusive
    running ``sum(expr)`` over each ``by`` partition in ``(key,
    *tiebreak)`` order — ``sum(expr) OVER (PARTITION BY by ORDER BY
    key, tiebreak ROWS UNBOUNDED PRECEDING)`` without the window that
    puts a whole partition in one task. A row number is ``{"rn":
    F.lit(1)}``; a descending order passes ``-key``, a timestamp
    ``F.unix_micros(ts)``.

    ``key`` is a non-null integral column with ``hi - lo < 2^57``
    (``lo``/``hi`` its min and max), and ``(key, *tiebreak)`` should be
    unique within a partition for a deterministic order. The sums are
    exact for integral ``expr``.

    Three steps, none of them a driver-side collect:
    - buckets: ``least((key - lo) * RUN_BUCKETS div (hi - lo + 1),
      RUN_BUCKETS - 1)``, equal-width over the key's range, from one
      broadcast 1-row ``(lo, hi)`` aggregate; bucket order nests inside
      key order, so ties never straddle a bucket edge;
    - offsets: each ``(by, bucket)`` total is exploded to every later
      bucket and summed per ``(by, later)`` — at most ``|by| ·
      RUN_BUCKETS²`` rows, no non-equi join, no unpartitioned window;
    - final pass: a broadcast left join of the offsets, then the window
      partitioned by ``(by, bucket)``.

    The bucketed relation is persisted: the totals and the final pass
    both read it, and a repeat call on the same plan reads the cache
    instead of recomputing the bounds. Filling it reads ``df`` twice
    (bounds, rows); persist ``df`` first when the chain feeding it
    re-reads a wide source (NOTES trap 22b). A caller that needs a
    scalar frontier per row (a grand total) cross-joins it into ``df``
    before the call, so the cache carries it too.
    """
    cols = df.columns
    k = df.withColumn("_rs_key", key.cast("long"))
    bounds = k.agg(F.min("_rs_key").alias("_rs_lo"), F.max("_rs_key").alias("_rs_hi"))
    b = (
        k.crossJoin(F.broadcast(bounds))
        .select(
            *cols,
            "_rs_key",
            F.expr(
                f"CAST(least((_rs_key - _rs_lo) * {RUN_BUCKETS} div (_rs_hi - _rs_lo + 1),"
                f" {RUN_BUCKETS - 1}) AS INT)"
            ).alias("_rs_bkt"),
        )
        .persist()
    )
    # sequence(0, N-1) filtered, never sequence(bkt + 1, N-1): Spark
    # counts DOWN when start > stop, so the last bucket would explode
    # to [N, N-1]
    offsets = (
        b.groupBy(*by, "_rs_bkt")
        .agg(*[F.sum(e).alias(n) for n, e in sums.items()])
        .withColumn("_rs_later", F.explode(F.sequence(F.lit(0), F.lit(RUN_BUCKETS - 1))))
        .filter(F.col("_rs_later") > F.col("_rs_bkt"))
        .groupBy(*[F.col(c).alias(f"_rs_by{i}") for i, c in enumerate(by)], "_rs_later")
        .agg(*[F.sum(n).alias(f"_rs_off_{n}") for n in sums])
    )
    # null-safe on `by`: groupBy and partitionBy keep a null group
    on = [F.col("_rs_bkt") == F.col("_rs_later")] + [
        F.col(c).eqNullSafe(F.col(f"_rs_by{i}")) for i, c in enumerate(by)
    ]
    w = (
        Window.partitionBy(*by, "_rs_bkt")
        .orderBy("_rs_key", *tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return b.join(F.broadcast(offsets), on, "left").select(
        *cols,
        *[
            (F.coalesce(F.col(f"_rs_off_{n}"), F.lit(0)) + F.sum(e).over(w)).alias(n)
            for n, e in sums.items()
        ],
    )


def topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price within each priority (rank ≤ k pattern)."""
    o = io.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "rn",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
    )


TOPN_PER_GROUP_SQL = """
SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice, 2) AS price
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over customers by balance per segment."""
    c = io.load_table(spark, sf_dir, "customer")
    by_bal = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    by_bal_uniq = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.rank().over(by_bal).alias("bal_rank"),
        F.dense_rank().over(by_bal).alias("bal_dense_rank"),
        F.ntile(4).over(by_bal_uniq).alias("bal_quartile"),
    )


RANK_DENSE_NTILE_SQL = """
SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
       rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS bal_rank,
       dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS bal_dense_rank,
       ntile(4)     OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey ASC) AS bal_quartile
FROM customer
"""


def lag_lead_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event sequence: previous/next value and step delta."""
    ev = io.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
        F.round(F.lead("value", 1).over(w), 4).alias("next_value"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 4).alias("delta"),
    )


LAG_LEAD_SQL = """
SELECT event_id, user_id, round(value, 4) AS value,
       round(lag(value, 1)  OVER w, 4) AS prev_value,
       round(lead(value, 1) OVER w, 4) AS next_value,
       round(value - lag(value, 1) OVER w, 4) AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
"""


def running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (rows frame, unbounded → current)."""
    o = io.load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("order_seq"),
    )


RUNNING_SUM_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER w, 2) AS running_spend,
       count(*) OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def range_frame_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per order, that customer's order count/value over the
    trailing 30 days (value-based frame on a day-number column)."""
    o = io.load_table(spark, sf_dir, "orders")
    day_num = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_num.cast("long"))
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       count(*) OVER w AS n_orders_30d,
       round(sum(o_totalprice) OVER w, 2) AS spend_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1995-01-01', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""


def distribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist + first/last/nth_value over explicit
    frames — the distribution-function window family.

    percent_rank/cume_dist are integer-ratio doubles, so they are
    emitted as integer basis points (HALF_UP/HALF_EVEN tie immunity);
    last_value gets the full-partition frame (the default frame stops
    at CURRENT ROW — the classic trap, made explicit here).
    """
    s = io.load_table(spark, sf_dir, "supplier")
    order = [F.asc("s_acctbal"), F.asc("s_suppkey")]
    w = Window.partitionBy("s_nationkey").orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bp = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    return s.select(
        "s_nationkey",
        "s_suppkey",
        bp(F.percent_rank().over(w)).alias("pct_rank_bp"),
        bp(F.cume_dist().over(w)).alias("cume_dist_bp"),
        F.first("s_suppkey").over(w_full).alias("poorest_supp"),
        F.last("s_suppkey").over(w_full).alias("richest_supp"),
        F.nth_value("s_suppkey", 2).over(w_full).alias("second_poorest"),
    )


DISTRIBUTION_SQL = """
SELECT s_nationkey, s_suppkey,
       CAST(floor(percent_rank() OVER w * 10000 + 0.5) AS BIGINT) AS pct_rank_bp,
       CAST(floor(cume_dist() OVER w * 10000 + 0.5) AS BIGINT) AS cume_dist_bp,
       first_value(s_suppkey) OVER wf AS poorest_supp,
       last_value(s_suppkey) OVER wf AS richest_supp,
       nth_value(s_suppkey, 2) OVER wf AS second_poorest
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC),
       wf AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive ACTIVE DAYS per
    user (sessionization at day grain — retention/streak analytics).

    The classic trick: within each user, date − row_number(date) is
    constant exactly along a consecutive run, so the anchor date is the
    island id; one partitioned window + one grouped agg, both keyed by
    user_id — a single shuffle of the distinct (user, day) relation,
    which is orders of magnitude smaller than the raw events.
    """
    ev = io.load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn("anchor", F.date_sub(F.col("d"), F.row_number().over(w)))
    return (
        grp.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("island_start"),
            F.max("d").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("user_id", "island_start", "island_end", "n_days")
    )


GAPS_ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
),
g AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
           AS anchor
  FROM days
)
SELECT user_id, min(d) AS island_start, max(d) AS island_end,
       count(*) AS n_days
FROM g GROUP BY user_id, anchor
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel detection (MATCH_RECOGNIZE-lite): how far does
    each user get through view → click → purchase, where each stage
    must happen strictly AFTER the previous one?

    Expressed as three chained windowed conditional-mins over one
    user-partitioned window: first view; first click after that view;
    first purchase after that click. All three Window operators share
    the same partitioning, so the whole funnel costs ONE shuffle on
    user_id regardless of stage count — the scalable form of what
    event-analytics engines do with sequence pattern matching.
    """
    ev = io.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "fc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("fv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "fp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.select("user_id", "fv", "fc", "fp").distinct()
    stage = (
        F.when(F.col("fp").isNotNull(), 3)
        .when(F.col("fc").isNotNull(), 2)
        .when(F.col("fv").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        per_user.select("user_id", stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("funnel_stage")
    )


FUNNEL_SQL = """
WITH staged AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN tsc END)
           OVER (PARTITION BY user_id) AS fv
       , tsc, event_type
  FROM (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tsc FROM events)
),
staged2 AS (
  SELECT user_id, fv,
         min(CASE WHEN event_type = 'click' AND tsc > fv THEN tsc END)
           OVER (PARTITION BY user_id) AS fc
       , tsc, event_type
  FROM staged
),
staged3 AS (
  SELECT user_id, fv, fc,
         min(CASE WHEN event_type = 'purchase' AND tsc > fc THEN tsc END)
           OVER (PARTITION BY user_id) AS fp
  FROM staged2
),
per_user AS (SELECT DISTINCT user_id, fv, fc, fp FROM staged3)
SELECT CASE WHEN fp IS NOT NULL THEN 3
            WHEN fc IS NOT NULL THEN 2
            WHEN fv IS NOT NULL THEN 1
            ELSE 0 END AS funnel_stage,
       count(*) AS n_users
FROM per_user
GROUP BY 1 ORDER BY 1
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: users grouped by first-active WEEK
    (the cohort), counted in every week-offset they return — the
    standard product-analytics retention triangle, at week grain
    because the fixture event stream spans one month.

    Shape: distinct (user, week) first — the raw events collapse to a
    relation bounded by users × weeks before anything heavy runs.
    Then ONE shuffle on user_id (windowed min = cohort assignment) and
    a second agg over the tiny (cohort, offset) key space. Weeks are
    integer epoch-day DIV 7 on the NTZ timestamp — no session-timezone
    dependence, no date-interval semantics to disagree on across
    engines.
    """
    ev = io.load_table(spark, sf_dir, "events")
    week = F.expr("datediff(to_date(ts), DATE '1970-01-01') div 7")
    weeks = ev.select("user_id", week.alias("wk")).distinct()
    w = Window.partitionBy("user_id")
    assigned = weeks.withColumn("cohort_wk", F.min("wk").over(w))
    return assigned.groupBy(
        "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("offset_weeks")
    ).agg(F.count(F.lit(1)).alias("active_users"))


COHORT_RETENTION_SQL = """
WITH weeks AS (
  SELECT DISTINCT user_id,
         (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') // 7 AS wk
  FROM events
),
assigned AS (
  SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort_wk
  FROM weeks
)
SELECT cohort_wk, wk - cohort_wk AS offset_weeks, count(*) AS active_users
FROM assigned GROUP BY 1, 2
"""


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, in microseconds


def _sessionized_events(spark: SparkSession, sf_dir: str, payload: str) -> DataFrame:
    """Shared 30-min-gap sessionizer: (user_id, event_id, ts_us,
    <payload>, session_idx) on microsecond integers. ONE definition of
    session semantics (gap, ordering, tie-break) feeds both the
    session rollup (`win_sessionize_gap`) and the path analysis
    (`win_session_paths`) — a drifted copy would let the two disagree
    on what a session is."""
    e = io.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            F.expr("ts_ns div 1000").alias("ts_us"),
            payload,
        )
        .withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "is_new",
            (
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > SESSION_GAP_US)
            ).cast("long"),
        )
        .withColumn(
            "session_idx",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )


def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via window functions: a new session
    starts when the gap to the previous event exceeds 30 minutes; the
    session id is the running count of session starts — the batch
    sessionizer behind every funnel/engagement metric (the streaming
    twin is `F.session_window` in streaming/jobs.py).

    All arithmetic runs on MICROsecond integers (ts_ns div 1000) so
    gap comparisons and orderings are bit-identical to the oracle's
    micro-resolution timestamps. One shuffle on user_id; both window
    passes and the final session agg share that partitioning.
    """
    evs = _sessionized_events(spark, sf_dir, "value")
    return (
        evs.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("(max(ts_us) - min(ts_us)) div 1000000").alias(
                "duration_secs"
            ),
            F.floor(F.sum("value") * 100 + F.lit(0.5)).cast("long").alias(
                "value_cents"
            ),
        )
    )


def _session_ctes_sql(payload: str) -> str:
    """The oracle-side twin of :func:`_sessionized_events` — the
    evs/flagged/sess CTE chain with one payload column, shared by both
    session queries so the two SQL definitions cannot drift."""
    return f"""
WITH evs AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         {payload},
         lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
           (PARTITION BY user_id
            ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL
                   OR ts_us - prev_us > {SESSION_GAP_US}
            THEN 1 ELSE 0 END AS is_new
  FROM evs
),
sess AS (
  SELECT *, CAST(sum(is_new) OVER
      (PARTITION BY user_id ORDER BY ts_us, event_id
       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)"""


SESSIONIZE_GAP_SQL = _session_ctes_sql("value") + """
SELECT user_id, session_idx,
       count(*) AS n_events,
       (max(ts_us) - min(ts_us)) // 1000000 AS duration_secs,
       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS value_cents
FROM sess
GROUP BY user_id, session_idx
"""


MEDIAN_FRAME = 6  # preceding rows in the moving-median window


def moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving median of event values over the trailing
    {n}-event frame — the robust rolling smoother (median beats mean
    under spikes) monitoring pipelines put on every metric stream.

    An exact frame-bounded percentile: each frame's values sort inside
    the window state — no self-join, no explode. One user_id shuffle;
    the frame is O(1) rows. Ordering is pinned to (microsecond ts,
    event_id), and the linear-interpolation median of identical double
    multisets is bit-identical across engines; output in cents.
    """
    e = io.load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-MEDIAN_FRAME, Window.currentRow)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.expr("ts_ns div 1000").alias("ts_us"),
            "value",
        )
        .withColumn("med", F.expr(f"percentile(value, 0.5)").over(w))
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("med") * 100 + F.lit(0.5)).cast("long").alias(
                "moving_median_cents"
            ),
        )
    )


MOVING_MEDIAN_SQL = f"""
SELECT user_id, event_id,
       CAST(floor(med * 100 + 0.5) AS BIGINT) AS moving_median_cents
FROM (
  SELECT user_id, event_id,
         quantile_cont(value, 0.5) OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
           ROWS BETWEEN {MEDIAN_FRAME} PRECEDING AND CURRENT ROW) AS med
  FROM events
)
"""


def pattern_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style STRICT-contiguity pattern: per user, count
    view→click→purchase runs with NO intervening event (the default
    `A B C` semantics of SQL-2016 row pattern matching, vs the funnel's
    eventually-ordered `A ... B ... C`).

    Shape: two lead() taps over ONE user-partitioned ts order — the
    pattern test is a per-row predicate after a single shuffle, and
    adding pattern length adds lead() columns, not shuffles. Ties on
    ts break by event_id so the row sequence is total and identical in
    both engines.
    """
    ev = io.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    matched = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("n1", F.lead("event_type", 1).over(w))
        .withColumn("n2", F.lead("event_type", 2).over(w))
        .filter(
            (F.col("event_type") == "view")
            & (F.col("n1") == "click")
            & (F.col("n2") == "purchase")
        )
    )
    return (
        matched.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_patterns"),
            F.min("ts").alias("first_match_ts"),
        )
        .orderBy("user_id")
    )


PATTERN_CONSECUTIVE_SQL = """
WITH seq AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsc, event_type,
         lead(event_type, 1) OVER w AS n1,
         lead(event_type, 2) OVER w AS n2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
)
SELECT user_id, count(*) AS n_patterns, min(tsc) AS first_match_ts
FROM seq
WHERE event_type = 'view' AND n1 = 'click' AND n2 = 'purchase'
GROUP BY user_id
ORDER BY user_id
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for every
    (from_type → to_type) pair of consecutive events within a user's
    stream, the transition count and its row-conditional probability in
    basis points — the clickstream model behind next-action prediction
    and funnel-leak diagnosis.

    One user-keyed shuffle orders each stream (microsecond integers +
    event_id tie-break, same basis as the sessionizer); ``lead`` taps
    the successor; the (from,to) aggregate is a ~|types|² relation, so
    everything after the window is broadcast-sized at any corpus scale.
    The probability denominator is the FROM-row total computed from the
    transition counts themselves (one tiny self-aggregate joined back —
    never a second pass over events), and bp = (cnt·10⁴) div row_total
    is pure integer arithmetic.
    """
    e = io.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        e.select(
            "user_id",
            "event_id",
            F.expr("ts_ns div 1000").alias("ts_us"),
            F.col("event_type").alias("from_type"),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    # row totals as a window OVER the counts relation (|types|² rows),
    # not a second aggregate joined back: a join would make Catalyst
    # re-derive the whole events window pipeline under both references
    # — two corpus shuffles for one matrix (caught by the plan golden)
    wt = Window.partitionBy("from_type")
    return (
        counts.withColumn("row_total", F.sum("n_transitions").over(wt))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr("(n_transitions * 10000) div row_total").alias("prob_bp"),
        )
        .orderBy("from_type", "to_type")
    )


ROLLING_DAYS = 7


def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{ROLLING_DAYS}-day distinct active users per day (the
    DAU/WAU family) — COUNT(DISTINCT) over a sliding range frame,
    which window functions cannot express (distinct aggregates are
    disallowed in frames).

    Distributed shape: collapse events to the DISTINCT (day, user)
    relation FIRST (one shuffle, the only corpus-sized one), then
    explode each row into the {ROLLING_DAYS} target days it
    contributes to (map-side ×{ROLLING_DAYS}), semi-join to observed
    days, and count distinct per target day. The explode factor is the
    window length — constant — so at 100 TB the cost is
    {ROLLING_DAYS}× the DISTINCT relation, not the event stream, and
    never a per-day self-join. Same-day actives (u1) ride along via a
    conditional distinct on the offset-0 copy.
    """
    e = io.load_table(spark, sf_dir, "events")
    du = e.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    exp = du.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(F.lit(0), F.lit(ROLLING_DAYS - 1))
        ).alias("k"),
    ).select(
        "user_id",
        F.col("k"),
        F.date_add("day", F.col("k")).alias("tday"),
    )
    return (
        exp.join(days.select(F.col("day").alias("tday")), "tday", "left_semi")
        .groupBy("tday")
        .agg(
            F.countDistinct(
                F.when(F.col("k") == 0, F.col("user_id"))
            ).alias("u1"),
            F.countDistinct("user_id").alias(f"u{ROLLING_DAYS}"),
        )
        .orderBy("tday")
    )


ROLLING_DISTINCT_SQL = f"""
WITH du AS (
  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day AS tday,
       count(DISTINCT CASE WHEN du.day = d.day THEN user_id END) AS u1,
       count(DISTINCT user_id) AS u{ROLLING_DAYS}
FROM days d
JOIN du ON du.day BETWEEN d.day - {ROLLING_DAYS - 1} AND d.day
GROUP BY d.day ORDER BY d.day
"""


EVENT_TRANSITIONS_SQL = """
WITH ordered AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER
           (PARTITION BY user_id
            ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM ordered WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       CAST((n_transitions * 10000)
         // sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
         AS prob_bp
FROM counts ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# Multi-touch attribution (linear, 7-day lookback)
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 7 * 86_400 * 1_000_000


def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the user's clicks in the preceding 7 days; no
    clicks → the 'direct' channel. The marketing-analytics op behind
    every "which day's traffic drove revenue" report.

    Exact-conservation discipline: the split is integer cents via
    `div`, the remainder goes to the LAST touch (row_number over
    (ts, event_id) — a total order), so Σ attributed == Σ purchase
    cents bit-exactly (pytest-gated, and the oracle re-derives the
    identical allocation). Shape: one user-keyed equi-join with the
    range predicate as join residual (never a cross join), per-purchase
    windows keyed by the purchase id (high-cardinality partition —
    parallel), one (channel, day) rollup. All timestamp arithmetic on
    microsecond integers (the sessionize idiom).
    """
    e = io.load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_type",
        "value",
        F.to_date("ts").alias("d"),
    )
    p = base.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("p_id"),
        F.col("ts_us").alias("p_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("p_cents"),
        F.col("d").alias("p_day"),
    )
    c = base.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("c_id"),
        F.col("ts_us").alias("c_us"),
        F.col("d").alias("c_day"),
    )
    touched = p.join(
        c,
        (p.user_id == c.user_id)
        & (c.c_us <= p.p_us)
        & (c.c_us > p.p_us - ATTR_WINDOW_US),
        "left",
    ).select(p.user_id, "p_id", "p_us", "p_cents", "p_day", "c_id", "c_us", "c_day")
    wp = Window.partitionBy("p_id")
    wrank = wp.orderBy(F.desc("c_us"), F.desc("c_id"))
    alloc = (
        touched.withColumn("n", F.count("c_id").over(wp))
        .withColumn("rn", F.row_number().over(wrank))
        .select(
            F.when(F.col("c_id").isNull(), F.lit("direct"))
            .otherwise(F.lit("click"))
            .alias("channel"),
            F.when(F.col("c_id").isNull(), F.col("p_day"))
            .otherwise(F.col("c_day"))
            .alias("day"),
            "p_id",
            F.when(F.col("c_id").isNull(), F.col("p_cents"))
            .otherwise(
                F.expr("p_cents div n")
                + F.when(F.col("rn") == 1, F.expr("p_cents % n")).otherwise(0)
            )
            .alias("attr_cents"),
        )
    )
    return (
        alloc.groupBy("channel", "day")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("p_id").alias("n_conversions"),
            F.sum("attr_cents").alias("attributed_cents"),
        )
        .orderBy("channel", "day")
    )


ATTRIBUTION_LINEAR_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_type, value, CAST(ts AS DATE) AS d
  FROM events
),
p AS (
  SELECT user_id, event_id AS p_id, ts_us AS p_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS p_cents, d AS p_day
  FROM base WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id AS c_id, ts_us AS c_us, d AS c_day
  FROM base WHERE event_type = 'click'
),
touched AS (
  SELECT p.user_id, p_id, p_us, p_cents, p_day, c_id, c_us, c_day
  FROM p LEFT JOIN c
    ON p.user_id = c.user_id
   AND c.c_us <= p.p_us AND c.c_us > p.p_us - {ATTR_WINDOW_US}
),
alloc AS (
  SELECT CASE WHEN c_id IS NULL THEN 'direct' ELSE 'click' END AS channel,
         CASE WHEN c_id IS NULL THEN p_day ELSE c_day END AS day,
         p_id,
         CASE WHEN c_id IS NULL THEN p_cents
              ELSE p_cents // count(c_id) OVER (PARTITION BY p_id)
                   + CASE WHEN row_number() OVER
                            (PARTITION BY p_id ORDER BY c_us DESC, c_id DESC) = 1
                          THEN p_cents % count(c_id) OVER (PARTITION BY p_id)
                          ELSE 0 END
         END AS attr_cents
  FROM touched
)
SELECT channel, day,
       count(*) AS n_touches,
       CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions,
       CAST(sum(attr_cents) AS BIGINT) AS attributed_cents
FROM alloc GROUP BY channel, day
ORDER BY channel, day
"""


# ---------------------------------------------------------------------------
# Pareto / ABC classification (scalable ranked prefix sum)
# ---------------------------------------------------------------------------

ABC_A_PPM = 800_000  # cumulative share <= 80% → A
ABC_B_PPM = 950_000  # <= 95% → B, else C


def pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: rank parts by
    lifetime revenue, classify by cumulative share (≤80% → A, ≤95% →
    B, else C), report the class rollup — the inventory-analytics
    80/20 cut.

    The ranked prefix sum is ``running_sums`` over ``-rev``. All
    arithmetic in exact integer WHOLE DOLLARS / ppm — cent units would
    push cum·10⁶ past BIGINT at SF ≥ ~0.4 (total revenue ~2.3e13 cents
    at SF 1); dollars keep the product exact to SF ~40, the same
    magnitude discipline as agg_gini_coefficient.
    """
    li = io.load_table(spark, sf_dir, "lineitem")
    dollars = F.floor(F.col("l_extendedprice") + F.lit(0.5)).cast("long")
    parts = li.groupBy("l_partkey").agg(F.sum(dollars).alias("rev"))
    total = parts.agg(F.sum("rev").alias("total"))
    ranked = (
        running_sums(
            parts.crossJoin(F.broadcast(total)),
            -F.col("rev"),
            ["l_partkey"],
            {"cum": F.col("rev")},
        )
        .withColumn("cum_ppm", F.expr("cum * 1000000 div total"))
        .withColumn(
            "abc_class",
            F.when(F.col("cum_ppm") <= ABC_A_PPM, "A")
            .when(F.col("cum_ppm") <= ABC_B_PPM, "B")
            .otherwise("C"),
        )
    )
    return (
        ranked.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev").alias("class_rev"),
            F.min("cum_ppm").alias("min_cum_ppm"),
            F.max("cum_ppm").alias("max_cum_ppm"),
        )
        .orderBy("abc_class")
    )


PARETO_ABC_SQL = f"""
WITH parts AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM parts),
ranked AS (
  SELECT l_partkey, rev,
         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM parts
)
SELECT CASE WHEN cum * 1000000 // total <= {ABC_A_PPM} THEN 'A'
            WHEN cum * 1000000 // total <= {ABC_B_PPM} THEN 'B'
            ELSE 'C' END AS abc_class,
       count(*) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS class_rev,
       min(cum * 1000000 // total) AS min_cum_ppm,
       max(cum * 1000000 // total) AS max_cum_ppm
FROM ranked, tot
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Session path analysis (top user journeys)
# ---------------------------------------------------------------------------

PATH_MAX_STEPS = 5
PATH_TOP = 15


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the most common event-type paths (first 5
    steps) across 30-minute-gap sessions — the product-analytics "how
    do users actually move through the product" readout, with the
    purchase-bearing flag per path.

    Reuses the sessionizer's microsecond-integer gap logic (same
    SESSION_GAP_US); the path string is built from an in-array sort of
    the session's (ts, id, type) triples — deterministic total order,
    bounded at 5 steps so path cardinality (and string size) stays
    capped at |types|⁵ regardless of session length. Shape: ONE
    user-keyed shuffle shared by the gap window and the session
    rollup, then a path-keyed rollup and TakeOrderedAndProject.
    """
    evs = _sessionized_events(spark, sf_dir, "event_type")
    sess = evs.groupBy("user_id", "session_idx").agg(
        F.expr(
            "array_join(slice(transform(array_sort(collect_list("
            "struct(ts_us, event_id, event_type))), s -> s.event_type),"
            f" 1, {PATH_MAX_STEPS}), '>')"
        ).alias("path"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
    )
    return (
        sess.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("converted").alias("n_converted"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP)
    )


SESSION_PATHS_SQL = _session_ctes_sql("event_type") + f""",
paths AS (
  SELECT user_id, session_idx,
         array_to_string(
           (list(event_type ORDER BY ts_us, event_id))[1:{PATH_MAX_STEPS}],
           '>') AS path,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM sess GROUP BY user_id, session_idx
)
SELECT path, count(*) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(converted) AS BIGINT) AS n_converted
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOP}
"""


def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: hours from each user's FIRST
    view to their first SUBSEQUENT purchase, histogrammed — the
    time-to-convert readout growth teams track next to the funnel's
    step counts (`win_funnel_conversion` says how many convert; this
    says how long it takes).

    Exact microsecond integers end-to-end: first-view and
    first-purchase-after-view are conditional MIN aggregates over ONE
    user-keyed rollup (no window, no self-join), latency buckets by
    integer division. Users who never view or never purchase after
    viewing fall out via the NULL-strict filter on both engines.
    """
    ev = io.load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us")
    )
    per_user = base.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("v0")
    )
    j = base.join(F.broadcast(per_user), "user_id")
    conv = j.groupBy("user_id").agg(
        F.max("v0").alias("v0"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("us") > F.col("v0")),
                F.col("us"),
            )
        ).alias("p0"),
    )
    lat = conv.filter(
        F.col("v0").isNotNull() & F.col("p0").isNotNull()
    ).select(
        F.expr("(p0 - v0) div 3600000000").cast("long").alias("ttc_hours")
    )
    return (
        lat.groupBy("ttc_hours")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("ttc_hours")
    )


TIME_TO_CONVERT_SQL = """
WITH base AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
v AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN us END) AS v0
  FROM base GROUP BY user_id
),
conv AS (
  SELECT base.user_id,
         max(v0) AS v0,
         min(CASE WHEN event_type = 'purchase' AND us > v0 THEN us END) AS p0
  FROM base JOIN v ON base.user_id = v.user_id
  GROUP BY base.user_id
)
SELECT CAST((p0 - v0) // 3600000000 AS BIGINT) AS ttc_hours,
       CAST(count(*) AS BIGINT) AS n_users
FROM conv
WHERE v0 IS NOT NULL AND p0 IS NOT NULL
GROUP BY ttc_hours
ORDER BY ttc_hours
"""


QUERIES = {
    "win_attribution_linear": (attribution_linear, ATTRIBUTION_LINEAR_SQL),
    "win_pareto_abc": (pareto_abc, PARETO_ABC_SQL),
    "win_session_paths": (session_paths, SESSION_PATHS_SQL),
    "win_topn_per_group": (topn_per_group, TOPN_PER_GROUP_SQL),
    "win_rank_dense_ntile": (rank_dense_ntile, RANK_DENSE_NTILE_SQL),
    "win_lag_lead_deltas": (lag_lead_deltas, LAG_LEAD_SQL),
    "win_running_sum": (running_sum, RUNNING_SUM_SQL),
    "win_range_frame_30d": (range_frame_30d, RANGE_FRAME_SQL),
    "win_distribution_first_last": (distribution_first_last, DISTRIBUTION_SQL),
    "win_gaps_islands": (gaps_islands, GAPS_ISLANDS_SQL),
    "win_funnel_conversion": (funnel_conversion, FUNNEL_SQL),
    "win_cohort_retention": (cohort_retention, COHORT_RETENTION_SQL),
    "win_sessionize_gap": (sessionize_gap, SESSIONIZE_GAP_SQL),
    "win_event_transitions": (event_transitions, EVENT_TRANSITIONS_SQL),
    "win_rolling_distinct_users": (
        rolling_distinct_users,
        ROLLING_DISTINCT_SQL,
    ),
    "win_moving_median": (moving_median, MOVING_MEDIAN_SQL),
    "win_pattern_consecutive": (pattern_consecutive, PATTERN_CONSECUTIVE_SQL),
    "win_time_to_convert": (time_to_convert, TIME_TO_CONVERT_SQL),
}
