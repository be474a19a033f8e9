"""Generative differential tests: random tiny relations through the
same logical query in Spark and DuckDB (sqllogictest-style fuzzing of
the semantics the whole oracle harness rests on: grouping, null
handling, join multiplicity, string comparison).

Examples are kept small and bounded (Spark job per example), with
deadlines disabled — throughput comes from minimal example counts, the
value from hypothesis's shrinking when a semantic drift IS found.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, example, given, settings, strategies as st

keys = st.lists(
    st.one_of(st.none(), st.sampled_from(["a", "b", "c", "U0001D", "U0010D"])),
    min_size=1,
    max_size=8,
)
vals = st.lists(
    st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=8
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _pdf(ks, vs):
    n = min(len(ks), len(vs))
    return pd.DataFrame({"k": ks[:n], "v": pd.array(vs[:n], dtype="int64")})


def _duck(pdf, sql):
    con = duckdb.connect()
    con.register("t", pdf)
    out = sorted([tuple(r) for r in con.sql(sql).fetchall()], key=repr)
    con.close()
    return out


@given(keys, vals)
@SETTINGS
def test_groupby_sum_count_matches(spark, ks, vs):
    pdf = _pdf(ks, vs)
    import pyspark.sql.functions as F

    got = sorted(
        [
            tuple(r)
            for r in spark.createDataFrame(pdf)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        ],
        key=repr,
    )
    want = _duck(pdf, "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k")
    assert got == want


@given(keys, vals)
@SETTINGS
def test_string_watermark_filter_matches(spark, ks, vs):
    """Lexicographic `>` on the watermark-key domain (the reference's
    string-compare semantics, SURVEY.md §7.3#1)."""
    pdf = _pdf(ks, vs)
    import pyspark.sql.functions as F

    got = sorted(
        [
            tuple(r)
            for r in spark.createDataFrame(pdf)
            .filter(F.col("k") > "U0001D")
            .collect()
        ],
        key=repr,
    )
    want = _duck(pdf, "SELECT k, v FROM t WHERE k > 'U0001D'")
    assert got == want


@given(keys, vals)
@SETTINGS
def test_self_join_multiplicity_matches(spark, ks, vs):
    pdf = _pdf(ks, vs)
    sdf = spark.createDataFrame(pdf)
    got = sorted(
        [
            tuple(r)
            for r in sdf.alias("a")
            .join(sdf.alias("b"), "k")
            .select("k")
            .collect()
        ],
        key=repr,
    )
    want = _duck(pdf, "SELECT a.k FROM t a JOIN t b USING (k)")
    assert got == want


@given(keys, vals)
@SETTINGS
def test_distinct_matches(spark, ks, vs):
    pdf = _pdf(ks, vs)
    got = sorted(
        [tuple(r) for r in spark.createDataFrame(pdf).distinct().collect()],
        key=repr,
    )
    want = _duck(pdf, "SELECT DISTINCT k, v FROM t")
    assert got == want


@given(keys, vals)
@SETTINGS
def test_window_rank_with_ties_matches(spark, ks, vs):
    """rank/dense_rank over duplicate order keys — tie semantics must
    agree; row_number needs the unique tie-break the engine's
    determinism policy mandates (so it is keyed by (v, k) here)."""
    pdf = _pdf(ks, vs).fillna({"k": "zz"})
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    w = Window.orderBy("v", "k")
    sdf = spark.createDataFrame(pdf).select(
        "k",
        "v",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    )
    got = sorted([tuple(r) for r in sdf.collect()], key=repr)
    want = _duck(
        pdf,
        """
        SELECT k, v,
               rank() OVER (ORDER BY v, k) AS rnk,
               dense_rank() OVER (ORDER BY v, k) AS drnk,
               row_number() OVER (ORDER BY v, k) AS rn
        FROM t
        """,
    )
    assert got == want


unicode_strings = st.lists(
    st.text(
        alphabet=st.sampled_from(list("aA àé九🎉 \t-_") ),
        min_size=0,
        max_size=8,
    ),
    min_size=1,
    max_size=6,
)


@given(unicode_strings)
@SETTINGS
def test_string_functions_unicode_matches(spark, texts):
    """upper/length/trim/reverse on unicode (codepoints, not bytes)."""
    pdf = pd.DataFrame({"s": texts})
    import pyspark.sql.functions as F

    sdf = spark.createDataFrame(pdf).select(
        F.length("s").alias("n"),
        F.upper("s").alias("up"),
        F.trim(F.col("s")).alias("tr"),
        F.reverse(F.col("s")).alias("rv"),
    )
    got = sorted([tuple(r) for r in sdf.collect()], key=repr)
    want = _duck(
        pdf,
        "SELECT length(s) AS n, upper(s) AS up, trim(s) AS tr, reverse(s) AS rv FROM t",
    )
    assert got == want


# --- two-phase sequential-scan operators vs their naive oracles -----------
#
# token_budget_alloc and resample_ffill replace a per-key global window
# with a bucketed prefix-sum / boundary-carry plan. The fixtures are
# dense; random sparse inputs (whole-day gaps, empty docs, single rows)
# exercise the carry logic where it can actually break.

def _norm6(v):
    import math

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def _run_vs_oracle(spark, d, table, fn, sql):
    import os

    sdf = fn(spark, d)
    scols = sorted(sdf.columns)
    got = sorted(
        (tuple(_norm6(r[c]) for c in scols) for r in sdf.collect()), key=repr
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"'{os.path.join(d, table + '.parquet')}'"
    )
    odf = con.sql(sql)
    order = sorted(range(len(odf.columns)), key=lambda i: odf.columns[i])
    assert [odf.columns[i] for i in order] == scols
    want = sorted(
        (tuple(_norm6(r[i]) for i in order) for r in odf.fetchall()), key=repr
    )
    con.close()
    assert got == want


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),  # day
        st.integers(min_value=0, max_value=23),  # hour
        st.integers(min_value=0, max_value=59),  # minute
        st.sampled_from(["view", "click"]),
        st.integers(min_value=-50, max_value=50),  # value
    ),
    min_size=1,
    max_size=16,
)


@given(events_strategy)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_resample_ffill_matches_naive_on_sparse_events(spark, evs):
    import os
    import tempfile

    from seamless_sharepoint_etl_spark.operators import timeseries

    d = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "event_id": range(len(evs)),
            "ts": pd.to_datetime(
                [f"2024-01-{dy:02d} {h:02d}:{m:02d}:00" for dy, h, m, _t, _v in evs]
            ),
            "user_id": [1] * len(evs),
            "event_type": [t for _d, _h, _m, t, _v in evs],
            "value": [float(v) for *_rest, v in evs],
            "props": ["{}"] * len(evs),
        }
    ).to_parquet(os.path.join(d, "events.parquet"))
    _run_vs_oracle(
        spark,
        d,
        "events",
        timeseries.resample_ffill,
        timeseries.RESAMPLE_FFILL_SQL,
    )


docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["en", "zh", "es", "de"]),
        st.integers(min_value=0, max_value=8),  # token count
    ),
    min_size=1,
    max_size=14,
)


@given(docs_strategy)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_token_budget_alloc_matches_naive(spark, docs):
    import os
    import tempfile

    from seamless_sharepoint_etl_spark.llm_ops import text

    d = tempfile.mkdtemp()
    texts = [" ".join(f"w{i}" for i in range(n)) for _lang, n in docs]
    pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": texts,
            "lang": [lang for lang, _n in docs],
            "source": ["s"] * len(docs),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))
    _run_vs_oracle(
        spark, d, "documents", text.token_budget_alloc, text.TOKEN_BUDGET_SQL
    )


# running_sums rows: (group, key, value). Keys mix a small dense range
# (ties, several per bucket) with two far extremes, so most of the 64
# buckets between them stay empty.
running_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.one_of(
            st.integers(min_value=-20, max_value=20),
            st.sampled_from([-(2**40), 2**40]),
        ),
        st.integers(min_value=-1000, max_value=1000),
    ),
    max_size=30,
)


@given(running_rows, st.booleans(), st.booleans())
@example([], False, False)  # empty input
@example([("a", 7, 3)], False, False)  # a single row
@example([("a", 5, 1), ("b", 5, 2), ("a", 5, -4)], True, False)  # hi == lo
@example([("a", -(2**40), 1), ("a", 2**40, 2), ("a", 0, 3)], False, True)
@example([(None, -(2**40), 1), ("a", 2**40, 2), (None, 2**40, 3)], True, False)
@SETTINGS
def test_running_sums_matches_a_plain_window(spark, rows, grouped, descending):
    """windows.running_sums equals the single-window running sum it
    replaces: a row number and a value sum side by side, ascending or
    negated (descending) keys, with or without ``by`` groups (a null
    group included)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from seamless_sharepoint_etl_spark.operators.windows import running_sums

    df = spark.createDataFrame(
        [(i, g, k, v) for i, (g, k, v) in enumerate(rows)],
        "id BIGINT, g STRING, k BIGINT, v BIGINT",
    )
    key = -F.col("k") if descending else F.col("k")
    by = ["g"] if grouped else []
    sums = {"rn": F.lit(1), "s": F.col("v")}
    w = (
        Window.partitionBy(*by)
        .orderBy(key, "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.select("*", *[F.sum(e).over(w).alias(n) for n, e in sums.items()])
    got = running_sums(df, key, ["id"], sums, by=by)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@given(
    st.lists(
        st.text(
            # full Unicode incl. non-BMP: the split-to-chars fold is
            # codepoint-based on both engines (surrogate pairs ride
            # whole through Java's regex split), so the old
            # printable-ASCII bound no longer applies
            alphabet=st.characters(
                min_codepoint=32,
                max_codepoint=0x10FFFF,
                blacklist_categories=("Cs",),  # lone surrogates: invalid UTF-8
            ),
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_portable_polynomial_hash_matches(spark, words):
    """The character-polynomial bucket hash DSIR's oracle parity rests
    on (curation._DSIR_BUCKET vs _DSIR_BUCKET_SQL) is bit-identical
    across engines for arbitrary Unicode strings (incl. non-BMP)."""
    import pyspark.sql.functions as F

    from seamless_sharepoint_etl_spark.llm_ops import curation

    pdf = pd.DataFrame({"s": words})
    sdf = spark.createDataFrame(pdf)
    got = sorted(
        (r["s"], r["b"])
        for r in sdf.select(
            "s", F.expr(curation._DSIR_BUCKET.format(col="s")).alias("b")
        ).collect()
    )
    want = sorted(
        _duck(
            pdf,
            f"SELECT s, {curation._DSIR_BUCKET_SQL.format(col='s')} AS b FROM t",
        )
    )
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**62),  # adversarial orderkeys
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_aqp_sample_hash_matches_and_never_overflows(spark, rows):
    """agg_sample_estimate's pre-mod hash: identical sample membership
    in both engines for orderkeys up to 2^62 — the regime where the
    un-pre-modded product would overflow BIGINT."""
    import pyspark.sql.functions as F

    from seamless_sharepoint_etl_spark.operators.aggregates import AQP_MOD

    pdf = pd.DataFrame(
        {"k": pd.array([k for k, _ in rows], dtype="int64"),
         "ln": pd.array([l for _, l in rows], dtype="int64")}
    )
    sdf = spark.createDataFrame(pdf)
    h = F.pmod((F.col("k") % 1000003) * 2654435761 + F.col("ln") * 40503,
               F.lit(AQP_MOD))
    got = sorted((r["k"], r["ln"], r["h"]) for r in sdf.select("k", "ln", h.alias("h")).collect())
    want = sorted(
        _duck(pdf, f"SELECT k, ln, ((k % 1000003) * 2654435761 + ln * 40503) % {AQP_MOD} AS h FROM t")
    )
    assert got == want


# --- winnowing guarantee (generative) --------------------------------

shared_core = st.text(alphabet="xyz", min_size=11, max_size=20)
padding = st.text(alphabet="ab ", min_size=0, max_size=25)


@given(shared_core, padding, padding, padding, padding)
@SETTINGS
def test_winnow_guarantee_generative(spark, core, p1, p2, p3, p4):
    """MOSS guarantee, fuzzed: ANY two documents sharing a substring of
    length >= k + w - 1 = 11 (after normalization — the core has no
    spaces so it survives whitespace collapse intact) must share at
    least one winnowing fingerprint."""
    from seamless_sharepoint_etl_spark.llm_ops import scoring

    df = spark.createDataFrame(
        [(0, f"{p1}{core}{p2}"), (1, f"{p3}{core}{p4}")], "doc_id LONG, text STRING"
    )
    k, w, M = scoring.WINNOW_K, scoring.WINNOW_W, scoring.WINNOW_M
    fps = (
        df.selectExpr(
            "doc_id",
            "regexp_replace(regexp_replace(lower(coalesce(text, '')),"
            " '[^ -~]', '?'), ' +', ' ') AS s",
        )
        .selectExpr("doc_id", "s", f"greatest(length(s) - {k - 1}, 0) AS n")
        .selectExpr(
            "doc_id",
            f"transform(sequence(1, greatest(n, 1)),"
            f" i -> ({scoring._GRAM_TERMS}) % {M}) AS hs",
            f"greatest(n - {w - 1}, 0) AS m",
        )
        .selectExpr(
            "doc_id",
            "explode(array_distinct(transform(sequence(1, greatest(m, 1)),"
            f" j -> array_min(slice(hs, j, {w}))))) AS fp",
        )
        .collect()
    )
    sets: dict[int, set] = {0: set(), 1: set()}
    for r in fps:
        sets[r["doc_id"]].add(r["fp"])
    assert sets[0] & sets[1], (core, p1, p2, p3, p4)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),  # value (ties likely)
            st.integers(min_value=0, max_value=9),  # weight incl. zero
        ),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_lower_weighted_median_crossing_matches(spark, pairs):
    """agg_weighted_median's semantic core: the lower weighted median
    (first value whose running weight reaches half the total, total
    order (v, idx)) must agree between a Spark window, a DuckDB
    window, and a pure-Python sweep — including zero weights and heavy
    value ties."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    pdf = pd.DataFrame(
        {
            "v": pd.array([v for v, _ in pairs], dtype="int64"),
            "w": pd.array([w for _, w in pairs], dtype="int64"),
            "i": pd.array(range(len(pairs)), dtype="int64"),
        }
    )
    tw = int(pdf["w"].sum())
    if tw == 0:
        return  # degenerate: no weight anywhere — median undefined
    win = Window.orderBy("v", "i").rowsBetween(Window.unboundedPreceding, 0)
    got = (
        spark.createDataFrame(pdf)
        .withColumn("cw", F.sum("w").over(win))
        .filter(F.col("cw") * 2 >= tw)
        .agg(F.min("v"))
        .collect()[0][0]
    )
    want_duck = _duck(
        pdf,
        f"""SELECT min(v) FROM (
              SELECT v, sum(w) OVER (ORDER BY v, i
                                     ROWS UNBOUNDED PRECEDING) AS cw
              FROM t) WHERE cw * 2 >= {tw}""",
    )[0][0]
    rows = sorted(zip(pdf["v"], pdf["i"], pdf["w"]))
    cw = 0
    want_py = None
    for v, _, w in rows:
        cw += w
        if cw * 2 >= tw:
            want_py = v
            break
    assert got == want_duck == want_py


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=10),
    st.integers(min_value=1, max_value=8),
)
@SETTINGS
def test_interval_union_sweep_matches(spark, starts, width):
    """ts_interval_union_length's semantic core: merged-island count
    and covered length of [s, s+width) intervals — running-max window
    sweep in Spark vs a Python line sweep, with touching intervals
    (s == prev end) merging in both (strict `>` starts a new island)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    pdf = pd.DataFrame({"s": pd.array(sorted(starts), dtype="int64")})
    pdf["e"] = pdf["s"] + width
    w = Window.orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = (
        spark.createDataFrame(pdf)
        .withColumn(
            "ni",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
        )
        .withColumn("isl", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    got = (
        flagged.groupBy("isl")
        .agg(F.min("s").alias("a"), F.max("e").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("b") - F.col("a")).alias("len"))
        .collect()[0]
    )
    cur_s = cur_e = None
    n = covered = 0
    for s in sorted(starts):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, s + width
            n += 1
        else:
            cur_e = max(cur_e, s + width)
    covered += cur_e - cur_s
    assert (got["n"], got["len"]) == (n, covered)


@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=10),
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=10),
)
@SETTINGS
def test_integer_ks_statistic_matches(spark, s1, s2):
    """diag_ks_drift's semantic core: the integer KS numerator
    max|cum₁·n₂ − cum₂·n₁| over pooled distinct values — Spark
    grouped-cumulative form vs a Python bisect ECDF, with heavy
    ties across and within samples."""
    import bisect

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    n1, n2 = len(s1), len(s2)
    pdf = pd.DataFrame(
        {
            "v": pd.array(s1 + s2, dtype="int64"),
            "y": pd.array([1] * n1 + [2] * n2, dtype="int64"),
        }
    )
    g = (
        spark.createDataFrame(pdf)
        .groupBy("v")
        .agg(
            F.count(F.when(F.col("y") == 1, 1)).alias("c1"),
            F.count(F.when(F.col("y") == 2, 1)).alias("c2"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    got = (
        g.select(
            (F.sum("c1").over(w) * n2 - F.sum("c2").over(w) * n1).alias("d")
        )
        .agg(F.max(F.abs(F.col("d"))))
        .collect()[0][0]
    )
    a, b = sorted(s1), sorted(s2)
    want = max(
        abs(bisect.bisect_right(a, v) * n2 - bisect.bisect_right(b, v) * n1)
        for v in sorted(set(s1) | set(s2))
    )
    assert got == want


# agg_percentiles was rebuilt (round 4) from the multiset `percentile`
# aggregate to domain-fixed-bucket rank selection with driver-side
# offsets and integer-cent interpolation. The fixture exercises one
# smooth distribution; the edges that can actually break the rank
# machinery are degenerate ones: every value equal (mn == mx, one
# bucket), exactly two values at opposite bucket extremes, n == 1 and
# n == 2 groups (interpolation at the boundary), and values straddling
# a 2^16-cent bucket edge so lo/hi ranks land in DIFFERENT buckets.
lineitem_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "N", "R"]),
        st.one_of(
            st.just(12345),  # a repeated constant → mn == mx groups
            st.integers(min_value=1, max_value=9),  # tiny values, bucket 0
            st.integers(min_value=65530, max_value=65540),  # 2^16 edge
            st.integers(min_value=1, max_value=500_000),  # broad
        ),
        st.integers(min_value=1, max_value=50),  # quantity
    ),
    min_size=1,
    max_size=24,
)


@given(lineitem_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_exact_percentiles_bucketed_rank_matches_quantile_cont(spark, rows):
    import os
    import tempfile

    from seamless_sharepoint_etl_spark.operators import aggregates

    d = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "l_orderkey": range(1, len(rows) + 1),
            "l_linenumber": [1] * len(rows),
            "l_returnflag": [f for f, _c, _q in rows],
            "l_extendedprice": [c / 100.0 for _f, c, _q in rows],
            "l_quantity": [float(q) for *_rest, q in rows],
        }
    ).to_parquet(os.path.join(d, "lineitem.parquet"))
    _run_vs_oracle(
        spark,
        d,
        "lineitem",
        aggregates.exact_percentiles,
        aggregates.EXACT_PERCENTILES_SQL,
    )


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=1 << 42),
            st.integers(min_value=1, max_value=1 << 42),
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_fxlog2_cross_engine_and_accuracy(spark, pairs):
    """portable.fxlog2_steps: Spark and DuckDB must agree BIT-FOR-BIT
    on random (a, b) across the documented domain (pure integer
    arithmetic — any divergence is a portability bug), and the value
    must approximate log2(a/b) within the truncation bound — ~1.44/q
    absolute (the q20 representation of the RATIO carries the error,
    so precision degrades as the ratio shrinks below 1) plus 2^-9 from
    the 16 extracted bits."""
    import math

    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark import portable

    # keep inside the documented domain: a·2^20 < 2^63 and a·2^20 ≥ b
    pairs = [(a, b) for a, b in pairs if a * (1 << 20) >= b]
    if not pairs:
        return
    pdf = pd.DataFrame(pairs, columns=["a", "b"]).astype("int64")
    sdf = spark.createDataFrame(pdf)
    for name, expr in portable.fxlog2_steps("div"):
        sdf = sdf.withColumn(name, F.expr(expr))
    got = [(r["a"], r["b"], r["fxlog2"]) for r in sdf.select("a", "b", "fxlog2").collect()]
    con = duckdb.connect()
    con.register("t", pdf)
    sql, prev = "WITH base AS (SELECT a, b FROM t)", "base"
    for j, (name, expr) in enumerate(portable.fxlog2_steps("//")):
        sql += f", s{j} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"s{j}"
    want = con.sql(f"{sql} SELECT a, b, fxlog2 FROM {prev}").fetchall()
    con.close()
    assert sorted(got) == sorted([tuple(r) for r in want])
    for a, b, v in got:
        q = max(1, (a * (1 << 20)) // b)
        bound = 1.5 / q + 1 / 512
        assert abs(v / (1 << portable.FXLOG2_FRAC_BITS) - math.log2(a / b)) < bound


# agg_winsorized_stats was rebuilt (round 4) on the value-clip
# identity: rank-clipping the k smallest/largest rows equals clamping
# to the k-th order-statistic VALUES. The identity is only interesting
# under TIES AT THE CUTS (and the non-negative SHIFT only under
# negative balances), so the fixture draws from a tiny value palette
# including negatives.
winsor_strategy = st.lists(
    st.tuples(
        st.sampled_from(["AUTOMOBILE", "BUILDING", "MACHINERY"]),
        st.sampled_from([-999.99, -1.0, 0.0, 0.01, 5.0, 5.0, 123.45, 9999.99]),
    ),
    min_size=1,
    max_size=40,
)


@given(winsor_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_winsorized_value_clip_matches_rank_clip_oracle(spark, rows):
    import os
    import tempfile

    from seamless_sharepoint_etl_spark.operators import aggregates

    d = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "c_custkey": range(1, len(rows) + 1),
            "c_name": ["x"] * len(rows),
            "c_nationkey": [0] * len(rows),
            "c_acctbal": [v for _s, v in rows],
            "c_mktsegment": [s for s, _v in rows],
        }
    ).to_parquet(os.path.join(d, "customer.parquet"))
    got = sorted(
        tuple(r) for r in aggregates.winsorized_stats(spark, d).collect()
    )
    want = _duck_dir(d, "customer", aggregates.WINSORIZED_STATS_SQL)
    assert got == want, (rows, got, want)


def _duck_dir(d, table, sql):
    import os

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"'{os.path.join(d, table + '.parquet')}'"
    )
    out = sorted(tuple(r) for r in con.sql(sql).fetchall())
    con.close()
    return out


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip_arbitrary_dims(w, h, seed):
    """The PNG encode/decode pair is the identity for ANY truecolor
    image, not just the fixture's 24x16 — width 1 exercises the
    left-neighbor=0 edge of Sub/Average/Paeth on every pixel, height 1
    the prior-row=0 edge. Pure Python/numpy, no Spark session."""
    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    buf = mm._png_encode([img.tobytes()], w, h)
    assert (mm._png_decode(buf, w, h)[0] == img).all()
