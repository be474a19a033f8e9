"""etl_cycle: the paper's cron tick, one closed-loop client.

Each tick makes the cron cycle's three calls:

1. ``pipelines.run_incremental_append`` into a fresh sink root;
2. the same call on the same root, a cron retry that must change
   nothing;
3. ``pipelines.write_routed`` into a fresh directory;

and then ``STEPS_PER_TICK`` steps of the sink log (``sink_log.Log``):
small appends plus the watermark read, on one sink root that grows for
the whole run, from a history committed before the loop. After every
``MIN_TICKS`` ticks the log is also upserted with a seeded sample of
its keys and read back at a seeded earlier version; those calls count
in ``ops_per_s`` but not in the tick time ``op_gmean_s``.

The number of ticks depends only on ``--seconds`` (``common.op_count``),
never on how fast they run, so a faster engine does the same work as a
slower one and their figures compare.

This workload runs the ``pipelines``, ``sinks`` and ``io`` layers and no
query operator, so a change to the query layers should leave it
unchanged.
"""

from __future__ import annotations

import itertools
import time

from . import harness, inputs
from .common import (
    Ctx,
    manifest,
    measured,
    op_count,
    set_up,
    span_metrics,
    spans_named,
    warm_tables,
    work_path,
)
from .oracle import duck
from .sink_log import Log, sink_bytes

TABLES = ("orders", "customer")
# The source arrives as the part files of four parallel writers.
FILES = {"orders": 4}
STEPS_PER_TICK = 2
HISTORY_COMMITS = 6
# A run makes at least this many ticks, and the exact-count sink
# metrics are read after the MIN_TICKS-th, so they repeat for a seed.
MIN_TICKS = 3
# Seconds of one tick on the reference machine (4 vCPUs); --seconds
# buys one tick per TICK_S.
TICK_S = 5.0


def run(ctx: Ctx) -> object:
    from seamless_sharepoint_etl_spark import pipelines

    data = work_path(ctx, "data")
    inputs.prepare(data, ctx.seed, TABLES, FILES)
    con = duck(data, TABLES)
    want_rows = con.sql(
        f"SELECT count(*) FROM ({pipelines.INCREMENTAL_LOAD_SQL})"
    ).fetchone()[0]
    want_routes = dict(
        con.sql(
            f"SELECT route, count(*) FROM ({pipelines.ROUTED_SQL}) GROUP BY route"
        ).fetchall()
    )
    con.close()
    counter = itertools.count()
    span = ctx.tracer.span

    def cycle(spark) -> float:
        i = next(counter)
        root = work_path(ctx, "sink", f"c{i}")
        out = work_path(ctx, "routed", f"c{i}")
        with span("pipelines.run_incremental_append") as a:
            rows = pipelines.run_incremental_append(spark, data, root)
        before = manifest(root)
        with span("pipelines.retry") as r:
            again = pipelines.run_incremental_append(spark, data, root)
        after = manifest(root)
        with span("pipelines.write_routed") as w:
            routes = pipelines.write_routed(spark, data, out)
        ctx.record(
            rows == want_rows and again == want_rows and before == after
            and routes == want_routes,
            f"etl cycle {i}: rows {rows}/{again} want {want_rows},"
            f" routes {routes} want {want_routes}",
        )
        return a.wall + r.wall + w.wall

    def tick(spark, log: Log) -> float:
        t = cycle(spark)
        for _ in range(STEPS_PER_TICK):
            t += log.step()
        return t

    def warm(spark, k):
        table_s = warm_tables(ctx, spark, data, TABLES)
        ctx.guard("warm-up cycle", cycle, spark)
        log = Log(ctx, spark, data, work_path(ctx, f"warm-sink-{k}"), f"warm{k}")
        ctx.guard("warm-up sink log", log.step)
        return {"io.table_warm_s": table_s}

    spark = set_up(ctx, warm)
    ctx.tracer.start_measure()
    # The log's history, committed before the loop and outside its
    # timing, so the log passes Spark's 32-path listing threshold
    # during the first tick.
    log = Log(ctx, spark, data, work_path(ctx, "sink", "log"), "slice")
    for _ in range(HISTORY_COMMITS):
        ctx.guard("sink log history", log.commit)
    samples, exact = [], {}
    ticks = op_count(ctx.seconds, TICK_S, MIN_TICKS)
    book0 = ctx.tracer.bookkeeping_s
    t0 = time.perf_counter()
    while len(samples) < ticks:
        got = ctx.guard("etl tick", tick, spark, log)
        if got is None:
            break
        samples.append(got)
        n = len(samples)
        # An upsert compacts the files it rewrites, which changes what
        # every later read costs, so it comes at a fixed point: after
        # each MIN_TICKS ticks. Its keys and the version read back are
        # drawn from the seed.
        if n % MIN_TICKS == 0:
            ctx.guard("sink upsert", log.upsert)
            ctx.guard("sink time travel", log.time_travel)
        if n == MIN_TICKS:
            total, mbytes, versions = sink_bytes(log.root)
            exact = {
                "sinks.manifest_bytes_per_commit": mbytes / versions,
                "sinks.files_per_snapshot": len(log.files()),
                "sinks.stored_bytes_per_row": total / len(log.live),
            }
    loop_s = time.perf_counter() - t0
    ctx.guard("final snapshot check", log.check_final)
    measured(ctx, samples, loop_s, book0)
    if ctx.trace:
        ctx.layer.update(exact)
        for name, counters in (
            ("pipelines.run_incremental_append", ("jobs", "tasks", "shuffle")),
            ("pipelines.retry", ("jobs",)),
            ("pipelines.write_routed", ("jobs", "tasks", "shuffle")),
            ("sinks.commit_append", ("jobs",)),
            ("sinks.read_snapshot", ("jobs",)),
            ("sinks.commit_upsert", ("jobs",)),
            ("sinks.time_travel", ()),
        ):
            span_metrics(ctx, name, counters)
        ctx.layer["sinks.commit_upsert.files_rewritten_frac"] = harness.median(
            s.attrs["files_rewritten_frac"]
            for s in spans_named(ctx, "sinks.commit_upsert")
        )
    return spark
