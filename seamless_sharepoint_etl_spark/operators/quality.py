"""Data-quality audit operators: referential integrity and drift.

Provenance: SURVEY.md §2 Tier B scale posture (no reference counterpart
— the reference trusts its source lists blindly; `bin/copy-seamless-to-
sharepoint.rb` has no constraint checking at all). At 100 TB a lake is
fed by many producers and the two audits every warehouse runs nightly
are (a) do the foreign keys still line up, and (b) did a column's
distribution move. Both must be expressible as single declarative
plans, not row-at-a-time validators.

``diag_referential_integrity`` audits every FK edge of the TPC-H-ish
schema in one statement: per edge it reports row count, NULL-key count,
distinct-key count, and the number of distinct child keys with no
parent (orphans). The orphan probe is distinct-then-anti-join — the
distinct shrinks the probe side to |keys| before the join, so the
shuffle carries key cardinality, not table cardinality; Catalyst
broadcasts the small parents (nation/region/supplier) on its own.
A multi-FK child gets one FUSED stats aggregate for all its edges
(stack-unpivoted back to edge rows), so the fact table is scanned
1 + |edges| times, not 2·|edges|.

``diag_psi_drift`` computes the Population Stability Index of the order
value distribution between two adjacent years over 10 fixed equi-width
bins. The bin edges come from a 1-row driver-side bounds pass (the
scalar-frontier pattern — binning is then map-side literal arithmetic),
and the PSI terms are computed on Laplace-smoothed proportions so empty
bins stay finite. One corpus scan + one 10-row shuffle; the ln rides on
exact integer-count ratios and the result is floored to ppm, the same
cross-engine determinism recipe as the log-likelihood family.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io, portable
from .windows import running_sums

# (child_table, child_key, parent_table, parent_key) — every FK edge of
# the schema. Shared by the Spark plan and the generated oracle SQL so
# the two can never drift.
FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-statement FK audit over all {len(FK_EDGES)} edges: row /
    NULL-key / distinct-key / orphan-key counts per edge (see module
    docstring for the scale shape).

    Scan economy (r9): every edge's (edge, key) pairs are stacked into
    ONE tall relation per child scan and unioned with every parent's
    tagged key set, so the whole audit is ONE pass over each table no
    matter how many FKs it carries, with NO join at all — a two-level
    aggregate (per (edge, key), then per edge) answers every column:
    n_rows = Σ child occurrences, n_null = the NULL-key group's count,
    n_keys = non-null groups with a child occurrence, n_orphan_keys =
    those groups with no parent occurrence. An earlier r9 draft used a
    distinct + anti-join against the parent union, but Catalyst's
    left-anti-through-union pushdown rewrote it into one anti-join PER
    child branch each re-scanning ALL parents (6×7 scans — the
    registry dup-scan audit caught it); the aggregate form has no join
    to push. Keys are cast to BIGINT for the stack (all FK columns are
    integral; distinctness/NULLness and key matches are unchanged by
    the widening). The shuffled edge tag is a SMALL INT id (mapped to
    the edge name only in the final 7-row select) so the wide exchange
    carries (int, 8-byte key, two flags) per row, not a ~30-byte edge
    string (r9 follow-up: the string tag made this the single most
    expensive headline exchange). One wide exchange + one 7-row
    exchange — the minimal shape at 100 TB."""
    edge_ids = {edge: i for i, edge in enumerate(FK_EDGES)}
    edge_names = [
        f"{child}.{ckey}->{parent}.{pkey}"
        for child, ckey, parent, pkey in FK_EDGES
    ]
    by_child: dict[str, list[tuple[int, str]]] = {}
    for child, ckey, parent, pkey in FK_EDGES:
        by_child.setdefault(child, []).append(
            (edge_ids[(child, ckey, parent, pkey)], ckey)
        )

    def _stacked(child: str, edges: list[tuple[int, str]]) -> DataFrame:
        keys = list(dict.fromkeys(ckey for _, ckey in edges))
        c = io.load_table(spark, sf_dir, child).select(*keys)
        pairs = ", ".join(
            f"{eid}, CAST({ckey} AS BIGINT)" for eid, ckey in edges
        )
        return c.selectExpr(
            f"stack({len(edges)}, {pairs}) AS (edge_id, k)"
        ).select("edge_id", "k", F.lit(1).alias("nc"), F.lit(0).alias("np"))

    tagged = reduce(
        DataFrame.unionAll,
        [_stacked(child, edges) for child, edges in by_child.items()]
        + [
            io.load_table(spark, sf_dir, parent)
            .select(F.col(pkey).cast("long").alias("k"))
            .select(
                F.lit(edge_ids[(child, ckey, parent, pkey)]).alias("edge_id"),
                "k",
                F.lit(0).alias("nc"),
                F.lit(1).alias("np"),
            )
            for child, ckey, parent, pkey in FK_EDGES
        ],
    )
    per_key = tagged.groupBy("edge_id", "k").agg(
        F.sum("nc").alias("nc"), F.max("np").alias("hp")
    )
    return (
        per_key.groupBy("edge_id")
        .agg(
            F.sum("nc").cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("k").isNull(), F.col("nc"))), F.lit(0)
            )
            .cast("long")
            .alias("n_null"),
            F.count(
                F.when(F.col("k").isNotNull() & (F.col("nc") > 0), 1)
            ).alias("n_keys"),
            F.count(
                F.when(
                    F.col("k").isNotNull()
                    & (F.col("nc") > 0)
                    & (F.col("hp") == 0),
                    1,
                )
            ).alias("n_orphan_keys"),
        )
        .select(
            F.element_at(
                F.array(*[F.lit(n) for n in edge_names]),
                F.col("edge_id") + 1,
            ).alias("edge"),
            "n_rows",
            "n_null",
            "n_keys",
            "n_orphan_keys",
        )
        .orderBy("edge")
    )


def _ri_edge_sql(child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""
SELECT '{child}.{ckey}->{parent}.{pkey}' AS edge,
       (SELECT count(*) FROM {child}) AS n_rows,
       (SELECT count(*) FROM {child} WHERE {ckey} IS NULL) AS n_null,
       (SELECT count(DISTINCT {ckey}) FROM {child}) AS n_keys,
       (SELECT count(*) FROM (SELECT DISTINCT {ckey} AS k FROM {child}
                              WHERE {ckey} IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} WHERE {pkey} = c.k))
         AS n_orphan_keys
"""


REFERENTIAL_INTEGRITY_SQL = (
    "\nUNION ALL\n".join(_ri_edge_sql(*e) for e in FK_EDGES)
    + "\nORDER BY edge"
)


# --- PSI drift --------------------------------------------------------

PSI_BASE_YEAR = 1995  # "expected" distribution
PSI_CUR_YEAR = 1996  # "actual" distribution
PSI_BINS = 10


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order value, {PSI_BASE_YEAR}
    (expected) vs {PSI_CUR_YEAR} (actual), over {PSI_BINS} fixed
    equi-width cent bins spanning both years' range. PSI =
    Σ (pₐ−pₑ)·ln(pₐ/pₑ) with Laplace-smoothed proportions; the standard
    alert thresholds are 0.1 (drifting) / 0.25 (shifted). Emitted
    per-bin in ppm so the alerting total is a trivial downstream sum
    and the driver hash stays integer-exact."""
    o = io.load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(PSI_BASE_YEAR, PSI_CUR_YEAR)
    )
    c = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.year("o_orderdate").alias("y"),
    )
    lo, hi, n_e, n_a = c.agg(
        F.min("cents"),
        F.max("cents"),
        F.count(F.when(F.col("y") == PSI_BASE_YEAR, 1)),
        F.count(F.when(F.col("y") == PSI_CUR_YEAR, 1)),
    ).first()
    if lo is None:  # neither year present: emit empty, don't crash on NULL bounds
        return spark.createDataFrame(
            [], "bin BIGINT, e_cnt BIGINT, a_cnt BIGINT, psi_ppm BIGINT"
        )
    span = max(hi - lo + 1, 1)
    g = (
        c.select(
            "y",
            F.expr(
                f"least(((cents - {int(lo)}) * {PSI_BINS})"
                f" div {int(span)}, {PSI_BINS - 1})"
            ).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("y") == PSI_BASE_YEAR, 1)).alias("e_cnt"),
            F.count(F.when(F.col("y") == PSI_CUR_YEAR, 1)).alias("a_cnt"),
        )
    )
    p_e = (F.col("e_cnt") + 1).cast("double") / F.lit(float(n_e + PSI_BINS))
    p_a = (F.col("a_cnt") + 1).cast("double") / F.lit(float(n_a + PSI_BINS))
    return g.select(
        "bin",
        "e_cnt",
        "a_cnt",
        F.floor((p_a - p_e) * F.log(p_a / p_e) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("psi_ppm"),
    ).orderBy("bin")


PSI_DRIFT_SQL = f"""
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         year(o_orderdate) AS y
  FROM orders WHERE year(o_orderdate) IN ({PSI_BASE_YEAR}, {PSI_CUR_YEAR})
),
b AS (
  SELECT min(cents) AS lo,
         greatest(max(cents) - min(cents) + 1, 1) AS span,
         count(*) FILTER (y = {PSI_BASE_YEAR}) AS n_e,
         count(*) FILTER (y = {PSI_CUR_YEAR}) AS n_a
  FROM c
),
g AS (
  SELECT least(((cents - lo) * {PSI_BINS}) // span, {PSI_BINS - 1}) AS bin,
         count(*) FILTER (y = {PSI_BASE_YEAR}) AS e_cnt,
         count(*) FILTER (y = {PSI_CUR_YEAR}) AS a_cnt
  FROM c, b GROUP BY 1
)
SELECT bin, e_cnt, a_cnt,
       CAST(floor(((a_cnt + 1.0) / (n_a + {PSI_BINS})
                   - (e_cnt + 1.0) / (n_e + {PSI_BINS}))
                  * ln(((a_cnt + 1.0) / (n_a + {PSI_BINS}))
                       / ((e_cnt + 1.0) / (n_e + {PSI_BINS})))
                  * 1000000 + 0.5) AS BIGINT) AS psi_ppm
FROM g, b ORDER BY bin
"""


# --- join-cardinality pre-flight -------------------------------------


def join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-size prediction for the M:N join
    ``orders ⋈ events ON o_custkey = user_id`` WITHOUT executing it:
    |A ⋈ B| = Σₖ c_A(k)·c_B(k) exactly, so the estimate needs only the
    two per-key count tables — the shuffles carry key cardinality, not
    fact cardinality, and the count-table join is tiny. This is the
    planner statistic you compute before committing a 100 TB fact-fact
    join: predicted output rows, matched-key count, and the heaviest
    key's contribution (the salting/skew-remedy trigger, complementing
    ``diag_join_key_skew``'s one-sided profile). The pytest gate
    proves predicted == the actually-executed join's count.
    """
    a = (
        io.load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        io.load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    j = a.join(b, "k").select(
        "k", (F.col("ca") * F.col("cb")).alias("contrib")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_common_keys"),
        F.sum("contrib").alias("predicted_rows"),
        F.max("contrib").alias("max_contrib"),
    )


JOIN_CARDINALITY_SQL = """
WITH a AS (SELECT o_custkey AS k, count(*) AS ca FROM orders GROUP BY 1),
b AS (SELECT user_id AS k, count(*) AS cb FROM events GROUP BY 1),
j AS (SELECT a.k, ca * cb AS contrib FROM a JOIN b USING (k))
SELECT count(*) AS n_common_keys,
       CAST(sum(contrib) AS BIGINT) AS predicted_rows,
       CAST(max(contrib) AS BIGINT) AS max_contrib
FROM j
"""


# --- experimentation: 2x2 chi-square -------------------------------


def ab_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion significance: split users into two cohorts by
    key parity, outcome = "ever fired a purchase event", and compute
    the 2×2 chi-square statistic χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)
    (b+d)) — the experimentation readout every event pipeline serves.

    Shape: one user-level aggregate (the only corpus shuffle: events →
    per-user converted flag), then ONE global 1-row aggregate of four
    conditional counts. The statistic is computed in DOUBLE from the
    four counts — int64 products look tempting but den ≈ n⁴/16
    overflows BIGINT past ~110k users and ANSI mode turns that into a
    query-killing ARITHMETIC_OVERFLOW (caught by review); doubles are
    exact for counts < 2^53 per cell and both engines make identical
    IEEE decisions on identical inputs, so the ppm floor still
    hash-matches. The pytest gate cross-checks against scipy-free
    textbook arithmetic.
    """
    ev = io.load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    counts = users.agg(
        F.count(F.when((F.col("user_id") % 2 == 0) & (F.col("conv") == 1), 1)).alias("a"),
        F.count(F.when((F.col("user_id") % 2 == 0) & (F.col("conv") == 0), 1)).alias("b"),
        F.count(F.when((F.col("user_id") % 2 == 1) & (F.col("conv") == 1), 1)).alias("c"),
        F.count(F.when((F.col("user_id") % 2 == 1) & (F.col("conv") == 0), 1)).alias("d"),
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    c, d = F.col("c").cast("double"), F.col("d").cast("double")
    num = (a + b + c + d) * (a * d - b * c) * (a * d - b * c)
    den = (a + b) * (c + d) * (a + c) * (b + d)
    return counts.select(
        "a",
        "b",
        "c",
        "d",
        F.when(den == 0, F.lit(0).cast("long"))  # degenerate margin: no test
        .otherwise(
            F.floor(num / den * 1_000_000 + F.lit(0.5)).cast("long")
        )
        .alias("chi2_ppm"),
    )


AB_CHI_SQUARE_SQL = """
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
t AS (
  SELECT count(*) FILTER (user_id % 2 = 0 AND conv = 1) AS a,
         count(*) FILTER (user_id % 2 = 0 AND conv = 0) AS b,
         count(*) FILTER (user_id % 2 = 1 AND conv = 1) AS c,
         count(*) FILTER (user_id % 2 = 1 AND conv = 0) AS d
  FROM u
)
SELECT a, b, c, d,
       CASE WHEN (CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d)
                 * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d) = 0
            THEN CAST(0 AS BIGINT)
       ELSE CAST(floor(
              (CAST(a AS DOUBLE) + b + c + d)
              * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
              * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
              / ((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d)
                 * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d))
              * 1000000 + 0.5) AS BIGINT)
       END AS chi2_ppm
FROM t
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# Expected Benford proportions in ppm, precomputed once in Python and
# embedded as LITERALS in both plans — computing log10() inside each
# engine would tie the oracle to two libm implementations (NOTES trap
# 1's sibling); a shared constant cannot drift.
BENFORD_EXP_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law — the classic books-level fraud/synthesis screen
    (fabricated amounts over-sample middle digits).

    Exact pipeline: cents = floor(price·100 + 0.5) per row, first
    digit = leading character of the cents integer (every total is
    ≥ $1, so cents ≥ 100 and the lead digit is significant), observed
    share in ppm by integer division. One 9-group hash aggregate over
    the scan — at 100 TB this is a map-side-combined rollup with a
    9-row exchange, nothing else.
    """
    o = io.load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    d = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    total = counts.agg(F.sum("observed").alias("total"))
    exp = F.array(*[F.lit(v) for v in BENFORD_EXP_PPM])
    j = counts.crossJoin(F.broadcast(total))
    obs_ppm = F.expr("observed * 1000000 div total")
    exp_ppm_col = F.element_at(exp, F.col("digit")).cast("long")
    return j.select(
        "digit",
        "observed",
        obs_ppm.alias("obs_ppm"),
        exp_ppm_col.alias("exp_ppm"),
        (obs_ppm - exp_ppm_col).alias("delta_ppm"),
    ).orderBy("digit")


_BENFORD_CASE = " ".join(
    "WHEN {d} THEN {v}".format(d=i + 1, v=v)
    for i, v in enumerate(BENFORD_EXP_PPM)
)

BENFORD_DIGIT_AUDIT_SQL = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders
), counts AS (
  SELECT digit, count(*) AS observed FROM digits GROUP BY digit
), tot AS (SELECT CAST(sum(observed) AS BIGINT) AS total FROM counts)
SELECT digit, CAST(observed AS BIGINT) AS observed,
       observed * 1000000 // total AS obs_ppm,
       CAST(CASE digit {case} END AS BIGINT) AS exp_ppm,
       observed * 1000000 // total - CASE digit {case} END AS delta_ppm
FROM counts, tot
ORDER BY digit
""".format(case=_BENFORD_CASE)


# ---------------------------------------------------------------------------
# Full-row duplicate audit
# ---------------------------------------------------------------------------

# tables the nightly duplicate audit covers (full-row identity)
DUP_AUDIT_TABLES = ("orders", "lineitem", "customer", "events")


def duplicate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row duplicate audit across the fact/dim tables: per table,
    total rows, distinct full rows, duplicated-row excess, and the
    excess in basis points — the cheapest data-quality tripwire after
    a botched backfill double-loads a partition.

    Shape (r9, guide §8 "decide with small rows"): the old plan
    groupBy'd every table over ALL columns, shuffling the FULL ROW
    BYTES of four tables (mostly-unique rows defeat map-side partial
    aggregation, so ~every byte crossed the exchange — the one shape
    §2.3 says to kill first). Now each row is reduced to an 8-byte
    ``xxhash64`` proxy: ONE narrow exchange of (hash) counts gives
    n_rows and the count of hash groups of size 1 (rows PROVABLY unique
    — nothing else shares even their hash), and only the collision
    candidates (hash groups with n > 1: true duplicates plus any
    colliding distinct pair) are re-read and exactly re-grouped by full
    row. n_distinct = |singleton hashes| + |distinct full rows among
    candidates| — exact under arbitrary hash collisions, while the
    bytes shuffled drop from the full table to 8/row + the duplicate
    subset. Costs a second scan of each table (plan-audited, like the
    referential-integrity probe pass); at 100 TB a rescan is strictly
    cheaper than shuffling every byte. The candidate join is not
    broadcast-hinted: AQE broadcasts the (tiny) duplicate-hash set at
    fixture scale and shuffle-joins if a botched backfill makes it
    huge. Pure integer output, unioned into a 4-row report.
    """
    parts = []
    for t in DUP_AUDIT_TABLES:
        df = io.load_table(spark, sf_dir, t)
        if "ts_ns" in df.columns:  # engine-added normalization column
            df = df.drop("ts_ns")
        cols = df.columns
        dfh = df.withColumn("_h", F.xxhash64(*cols))
        hg = dfh.groupBy("_h").agg(F.count(F.lit(1)).alias("n"))
        base = hg.agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_uniq_h"),
        )
        cand_distinct = (
            dfh.join(hg.filter(F.col("n") > 1).select("_h"), "_h", "left_semi")
            .select(*cols)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_cand_distinct"))
        )
        stats = base.crossJoin(F.broadcast(cand_distinct)).select(
            F.col("n_rows"),
            (F.col("n_uniq_h") + F.col("n_cand_distinct")).alias("n_distinct"),
        )
        parts.append(
            stats.select(
                F.lit(t).alias("tbl"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                (F.col("n_rows") - F.col("n_distinct"))
                .cast("long")
                .alias("n_dup_excess"),
                F.expr("(n_rows - n_distinct) * 10000 div n_rows")
                .cast("long")
                .alias("dup_excess_bp"),
            )
        )
    return reduce(DataFrame.unionAll, parts).orderBy("tbl")


def _dup_sql(t: str) -> str:
    return f"""
SELECT '{t}' AS tbl,
       (SELECT CAST(count(*) AS BIGINT) FROM {t}) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT DISTINCT * FROM {t})) AS n_distinct,
       (SELECT count(*) FROM {t})
         - (SELECT count(*) FROM (SELECT DISTINCT * FROM {t}))
         AS n_dup_excess,
       ((SELECT count(*) FROM {t})
         - (SELECT count(*) FROM (SELECT DISTINCT * FROM {t})))
         * 10000 // (SELECT count(*) FROM {t}) AS dup_excess_bp
"""


DUPLICATE_ROWS_SQL = (
    "\nUNION ALL\n".join(_dup_sql(t) for t in DUP_AUDIT_TABLES)
    + "\nORDER BY tbl"
)


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

K_ANON_K = 5  # the privacy threshold every release checklist starts at


def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-
    identifier (nationality, market segment, account-balance kilobucket)
    — the release gate a training-data pipeline runs before shipping
    any row-level extract: the dataset is k-anonymous iff every QI
    group holds ≥ k rows.

    Output is the audit summary a privacy reviewer signs off on:
    total rows, QI group count, the achieved k (min group size), and
    how many groups / rows sit below the k={K_ANON_K} bar.

    Scale: one hash aggregate on the QI key (map-side combined), then
    a single-row rollup of the group-size relation — two shuffles, the
    second over |groups| rows. No windows, no joins.
    """
    c = io.load_table(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
    )
    groups = qi.groupBy("c_nationkey", "c_mktsegment", "bal_kb").agg(
        F.count(F.lit(1)).alias("gsz")
    )
    return groups.agg(
        F.sum("gsz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("gsz").cast("long").alias("k_anonymity"),
        F.count(F.when(F.col("gsz") < K_ANON_K, 1)).cast("long").alias(
            "n_groups_below_k"
        ),
        F.sum(F.when(F.col("gsz") < K_ANON_K, F.col("gsz")).otherwise(0))
        .cast("long")
        .alias("n_rows_below_k"),
    )


K_ANONYMITY_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
         count(*) AS gsz
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(sum(gsz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(gsz) AS BIGINT) AS k_anonymity,
       CAST(count(*) FILTER (gsz < {K_ANON_K}) AS BIGINT) AS n_groups_below_k,
       CAST(coalesce(sum(gsz) FILTER (gsz < {K_ANON_K}), 0) AS BIGINT)
         AS n_rows_below_k
FROM g
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift test
# ---------------------------------------------------------------------------

KS_BASE_YEAR = PSI_BASE_YEAR
KS_CUR_YEAR = PSI_CUR_YEAR


def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic of the order-value
    distribution, {KS_BASE_YEAR} vs {KS_CUR_YEAR} — the continuous
    complement to ``diag_psi_drift``'s binned PSI: D = max |F₁−F₂| over
    the pooled ECDF, sensitive to shape changes PSI's 10 bins smear.

    Integer-exact end-to-end: values are cent-quantized, the ECDFs are
    cumulative counts, and D·n₁·n₂ = max |cum₁·n₂ − cum₂·n₁| is a pure
    BIGINT quantity, reported alongside D in basis points by integer
    division — no float ever enters, so the driver hash cannot flap
    (NOTES trap 1).

    The pooled ECDF's cumulative counts are ``windows.running_sums``
    over the distinct cent values, both samples in one call. One-sided
    or empty input has no KS statistic and emits zero rows, matching
    the oracle's ``WHERE n1 > 0 AND n2 > 0`` guard.
    """
    o = io.load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(KS_BASE_YEAR, KS_CUR_YEAR)
    )
    g = (
        o.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.year("o_orderdate").alias("y"),
        )
        .groupBy("cents")
        .agg(
            F.count(F.when(F.col("y") == KS_BASE_YEAR, 1)).alias("c1"),
            F.count(F.when(F.col("y") == KS_CUR_YEAR, 1)).alias("c2"),
        )
    )
    n = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    cum = running_sums(
        g.crossJoin(F.broadcast(n)),
        F.col("cents"),
        [],
        {"cum1": F.col("c1"), "cum2": F.col("c2")},
    )
    return (
        cum.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            ).alias("ks_num")
        )
        .select(
            "n1",
            "n2",
            "ks_num",
            F.expr("ks_num * 10000 div (n1 * n2)").alias("ks_d_bp"),
        )
    )


KS_DRIFT_SQL = f"""
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         year(o_orderdate) AS y
  FROM orders WHERE year(o_orderdate) IN ({KS_BASE_YEAR}, {KS_CUR_YEAR})
),
n AS (
  SELECT count(*) FILTER (y = {KS_BASE_YEAR}) AS n1,
         count(*) FILTER (y = {KS_CUR_YEAR}) AS n2
  FROM c
),
g AS (
  SELECT cents,
         count(*) FILTER (y = {KS_BASE_YEAR}) AS c1,
         count(*) FILTER (y = {KS_CUR_YEAR}) AS c2
  FROM c GROUP BY cents
),
cum AS (
  SELECT sum(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum1,
         sum(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum2
  FROM g
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
       CAST(max(abs(cum1 * n2 - cum2 * n1)) * 10000 // (n1 * n2) AS BIGINT)
         AS ks_d_bp
FROM cum, n
WHERE n1 > 0 AND n2 > 0
GROUP BY n1, n2
"""


# ---------------------------------------------------------------------------
# Cramér's V categorical association
# ---------------------------------------------------------------------------


def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between order priority and order status —
    the contingency-table readout feature-selection and leakage audits
    run over categorical pairs (V ≈ 0: independent; V = 1: one column
    determines the other).

    Determinism recipe (NOTES trap 1 + the ``psi_drift`` precedent):
    each cell's χ² contribution is computed as (obs·n − rt·ct)²/(n·rt·ct)
    in DOUBLE from exact integer counts — identical IEEE inputs on both
    engines — then FLOORED TO PPM PER CELL, and only the resulting
    integers are summed, so cross-engine float-summation order cannot
    flap the total. V rides on the integer χ² and is floored to bp.

    Scale: one |r×c|-cell hash aggregate over the scan, margins by a
    broadcast of the tiny cell relation onto itself — nothing scales
    with corpus size after the first aggregate.
    """
    o = io.load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("rk"), F.col("o_orderstatus").alias("ck")
    ).agg(F.count(F.lit(1)).alias("obs"))
    rows = cells.groupBy("rk").agg(F.sum("obs").alias("rt"))
    cols = cells.groupBy("ck").agg(F.sum("obs").alias("ct"))
    tot = cells.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("rk").alias("r"),
        F.countDistinct("ck").alias("c"),
    )
    cell_ppm = F.floor(
        (
            (F.col("obs").cast("double") * F.col("n") - F.col("rt").cast("double") * F.col("ct"))
            * (F.col("obs").cast("double") * F.col("n") - F.col("rt").cast("double") * F.col("ct"))
        )
        / (F.col("n").cast("double") * F.col("rt") * F.col("ct"))
        / F.col("n")
        * 1_000_000
    ).cast("long")
    terms = (
        cells.join(F.broadcast(rows), "rk")
        .join(F.broadcast(cols), "ck")
        .crossJoin(F.broadcast(tot))
        .select("n", "r", "c", cell_ppm.alias("cell_ppm"))
    )
    agg = terms.groupBy("n", "r", "c").agg(
        F.sum("cell_ppm").alias("chi2_ppm")
    )
    v_bp = F.floor(
        F.sqrt(
            F.col("chi2_ppm").cast("double")
            / 1_000_000.0
            / (F.least("r", "c").cast("double") - 1)
        )
        * 10000
    ).cast("long")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_row_cats"),
        F.col("c").cast("long").alias("n_col_cats"),
        F.col("chi2_ppm").cast("long").alias("chi2_over_n_ppm"),
        v_bp.alias("cramers_v_bp"),
    )


CRAMERS_V_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS rk, o_orderstatus AS ck, count(*) AS obs
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT sum(obs) AS n, count(DISTINCT rk) AS r, count(DISTINCT ck) AS c
  FROM cells
),
rmarg AS (SELECT rk, sum(obs) AS rt FROM cells GROUP BY rk),
cmarg AS (SELECT ck, sum(obs) AS ct FROM cells GROUP BY ck),
terms AS (
  SELECT n, r, c,
         CAST(floor(
           (CAST(obs AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
           * (CAST(obs AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
           / (CAST(n AS DOUBLE) * rt * ct) / n * 1000000
         ) AS BIGINT) AS cell_ppm
  FROM cells
  JOIN rmarg USING (rk)
  JOIN cmarg USING (ck)
  CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(r AS BIGINT) AS n_row_cats,
       CAST(c AS BIGINT) AS n_col_cats,
       CAST(sum(cell_ppm) AS BIGINT) AS chi2_over_n_ppm,
       CAST(floor(sqrt(CAST(sum(cell_ppm) AS DOUBLE) / 1000000
                       / (least(r, c) - 1)) * 10000) AS BIGINT)
         AS cramers_v_bp
FROM terms GROUP BY n, r, c
"""


# ---------------------------------------------------------------------------
# Functional-dependency audit
# ---------------------------------------------------------------------------

# (table, determinant, dependent) — the FD candidates a profiler would
# nominate for this schema: two true key-dependencies, one hierarchy
# edge, and three expected violations. Shared by both plans.
FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("part", "p_brand", "p_type"),
]


def functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each declared candidate
    determinant → dependent, does every determinant value map to
    exactly one dependent value? Schema-discovery 101 — the check that
    tells you which columns are safe denormalization/partition keys.

    Per candidate: distinct determinant count, number of violating
    determinants (>1 dependent), the worst fan-out, and a 0/1 holds
    flag. Scale: each candidate is one map-side-combined aggregate on
    the determinant key followed by a 1-row rollup; candidates union
    into one plan and run as independent stages. A full-pairs FD miner
    would run |cols|² of these — the audit takes an explicit list.
    """
    parts = []
    for table, det, dep in FD_CANDIDATES:
        t = io.load_table(spark, sf_dir, table).select(det, dep)
        per_key = t.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        parts.append(
            per_key.agg(
                F.lit(f"{table}: {det} -> {dep}").alias("candidate"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.count(F.when(F.col("nd") > 1, 1)).cast("long").alias(
                    "n_violating_keys"
                ),
                F.max("nd").cast("long").alias("max_fanout"),
            )
        )
    out = reduce(DataFrame.unionAll, parts)
    return out.select(
        "candidate",
        "n_keys",
        "n_violating_keys",
        "max_fanout",
        F.when(F.col("n_violating_keys") == 0, 1)
        .otherwise(0)
        .cast("long")
        .alias("holds"),
    ).orderBy("candidate")


def _fd_sql(table: str, det: str, dep: str) -> str:
    return f"""
SELECT '{table}: {det} -> {dep}' AS candidate,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_violating_keys,
       CAST(max(nd) AS BIGINT) AS max_fanout,
       CAST(CASE WHEN count(*) FILTER (nd > 1) = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS holds
FROM (SELECT {det}, count(DISTINCT {dep}) AS nd FROM {table} GROUP BY {det})
"""


FUNCTIONAL_DEPS_SQL = (
    "\nUNION ALL\n".join(_fd_sql(*c) for c in FD_CANDIDATES)
    + "\nORDER BY candidate"
)


L_DIV_L = 3  # distinct-sensitive-values bar per QI group


def l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the customer table — the companion gate to
    ``diag_k_anonymity``: a QI group can be large (k-anonymous) yet
    still leak if every member shares the SAME sensitive value, so the
    release bar is the number of DISTINCT sensitive values per QI
    group. QI = (nation, balance kilobucket) — the k-anonymity QI minus
    the audited column — and the sensitive attribute is the market
    segment (the column a re-identification would reveal).

    Output: achieved l (min distinct sensitive per group), group
    count, and how many groups / rows sit below l = {L_DIV_L}.

    Scale: one QI×sensitive pre-collapse (map-side combined), one QI
    rollup of the collapsed relation, one single-row summary — the
    count-distinct never expands values because the pre-collapse makes
    it a plain count. Same two-shuffle shape as k_anonymity.
    """
    c = io.load_table(spark, sf_dir, "customer")
    qi_sens = (
        c.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_kb", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    groups = qi_sens.groupBy("c_nationkey", "bal_kb").agg(
        F.count(F.lit(1)).alias("l_val"), F.sum("n").alias("gsz")
    )
    return groups.agg(
        F.sum("gsz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l_val").cast("long").alias("l_diversity"),
        F.count(F.when(F.col("l_val") < L_DIV_L, 1)).cast("long").alias(
            "n_groups_below_l"
        ),
        F.sum(F.when(F.col("l_val") < L_DIV_L, F.col("gsz")).otherwise(0))
        .cast("long")
        .alias("n_rows_below_l"),
    )


L_DIVERSITY_SQL = f"""
WITH qs AS (
  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
         c_mktsegment, count(*) AS n
  FROM customer GROUP BY 1, 2, 3
),
g AS (
  SELECT c_nationkey, bal_kb, count(*) AS l_val, sum(n) AS gsz
  FROM qs GROUP BY 1, 2
)
SELECT CAST(sum(gsz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(l_val) AS BIGINT) AS l_diversity,
       CAST(count(*) FILTER (l_val < {L_DIV_L}) AS BIGINT) AS n_groups_below_l,
       CAST(coalesce(sum(gsz) FILTER (l_val < {L_DIV_L}), 0) AS BIGINT)
         AS n_rows_below_l
FROM g
"""


# fxlog2's pure-BIGINT squaring chain needs the log argument's
# numerator max(n_xy)·N to stay below 2^43 or intermediate products
# overflow int64 (Spark wraps silently in non-ANSI arithmetic).
_FXLOG2_DOMAIN_BOUND = 1 << 43


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and order status —
    the feature-relevance / column-dependence audit in bits, the
    information-theoretic sibling of ``diag_cramers_v``:
    MI = Σ_cells p(x,y) · log2( p(x,y) / (p(x)·p(y)) ).

    The transcendental is the portable FIXED-POINT log
    (``portable.fxlog2_steps``): pure BIGINT squaring digit-extraction,
    bit-identical across engines BY CONSTRUCTION — this query is
    exactly hash-oracled with zero libm exposure, closing the residual
    hazard ``mm_byte_entropy`` / ``diag_benford_digit_audit`` document.
    Per cell the log argument is the exact rational
    (n_xy·N)/(n_x·n_y); cell terms n_xy·fxlog2 are BIGINTs summed
    exactly; one final division scales to micro-bits. Domain headroom:
    n_xy·N < 2^43 (≈ N < 3 M rows at fixture shape — pre-scale the
    ratio for larger corpora, noted in portable.py).

    Scale shape: one map-side-combined (|X|·|Y|)-cell rollup of the
    fact table; margins and totals derive from the CELLS (≤15 rows),
    never from a second fact scan; the 50-step fxlog2 chain is a
    per-row projection over those 15 rows. One fact shuffle total.
    """
    o = io.load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    cells = cells.persist()
    # fxlog2 headroom is a hard domain bound, not advisory: past it,
    # non-ANSI BIGINT multiplication WRAPS silently in Spark (wrong MI)
    # while DuckDB raises on overflow — the engines would diverge.
    # Guard on the collected 1-row frontier (cells is persisted, the
    # extra scan touches ≤|X|·|Y| rows): the largest log argument
    # numerator is max(n_xy)·N.
    hdr = cells.agg(F.sum("c").alias("n"), F.max("c").alias("mc")).collect()[0]
    if hdr["n"] is not None and hdr["mc"] * hdr["n"] >= _FXLOG2_DOMAIN_BOUND:
        raise ValueError(
            "mutual_information: max(n_xy)*N >= 2^43 exceeds the fxlog2 "
            "fixed-point domain — pre-scale the (a, b) rational before "
            "the log (see portable.py) instead of wrapping silently"
        )
    nx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    ny = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    tot = cells.agg(F.sum("c").alias("n"))
    base = (
        cells.join(F.broadcast(nx), "x")
        .join(F.broadcast(ny), "y")
        .join(F.broadcast(tot))
        .select("c", "n", (F.col("c") * F.col("n")).alias("a"), (F.col("cx") * F.col("cy")).alias("b"))
    )
    base = base.selectExpr("*", *portable.fxlog2_select_items("div"))
    return base.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            f"CAST((sum(c * fxlog2) * 1000000) div (max(n) * {1 << portable.FXLOG2_FRAC_BITS}) AS BIGINT)"
        ).alias("mi_micro_bits"),
    )


def _mutual_information_sql() -> str:
    steps = portable.fxlog2_steps("//")
    ctes = []
    prev = "base"
    for j, (name, expr) in enumerate(steps):
        ctes.append(f"s{j} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"s{j}"
    return f"""
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS c
  FROM orders GROUP BY 1, 2
),
nx AS (SELECT x, sum(c) AS cx FROM cells GROUP BY x),
ny AS (SELECT y, sum(c) AS cy FROM cells GROUP BY y),
tot AS (SELECT sum(c) AS n FROM cells),
base AS (
  SELECT c, n, c * n AS a, cx * cy AS b
  FROM cells JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN tot
),
{", ".join(ctes)}
SELECT CAST(max(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST((sum(c * fxlog2) * 1000000)
            // (max(n) * {1 << portable.FXLOG2_FRAC_BITS}) AS BIGINT)
         AS mi_micro_bits
FROM {prev}
"""


MUTUAL_INFORMATION_SQL = _mutual_information_sql()


QUERIES = {
    "diag_referential_integrity": (
        referential_integrity,
        REFERENTIAL_INTEGRITY_SQL,
    ),
    "diag_psi_drift": (psi_drift, PSI_DRIFT_SQL),
    "diag_join_cardinality": (join_cardinality, JOIN_CARDINALITY_SQL),
    "diag_ab_chi_square": (ab_chi_square, AB_CHI_SQUARE_SQL),
    "diag_benford_digit_audit": (benford_digit_audit, BENFORD_DIGIT_AUDIT_SQL),
    "diag_k_anonymity": (k_anonymity, K_ANONYMITY_SQL),
    "diag_ks_drift": (ks_drift, KS_DRIFT_SQL),
    "diag_cramers_v": (cramers_v, CRAMERS_V_SQL),
    "diag_functional_deps": (functional_deps, FUNCTIONAL_DEPS_SQL),
    "diag_duplicate_rows": (duplicate_rows, DUPLICATE_ROWS_SQL),
    "diag_l_diversity": (l_diversity, L_DIVERSITY_SQL),
    "diag_mutual_information": (mutual_information, MUTUAL_INFORMATION_SQL),
}
