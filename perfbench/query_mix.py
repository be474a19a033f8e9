"""query_mix: the analytics surface, one closed-loop client.

The frozen list (``spec.json``) names the slowest headline query of
nine registry modules outside ``pipelines``, covering all five query
packages, plus three queries the roadmap targets; ``spec.json`` also
names the thirteen headline queries left out to keep a run short, with
their measured cost. The session artifacts the list reads are filled
during set-up and reused by every pass. After set-up one untimed pass
collects every query and compares it with its DuckDB oracle; the
measured loop then runs a fixed number of whole passes
(``common.op_count``), each in a new order drawn from the seed, writing
every result to Spark's ``noop`` sink.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from . import harness, inputs
from .common import (
    Ctx,
    load_spec,
    measured,
    op_count,
    set_up,
    spans_named,
    warm_tables,
    work_path,
)
from .oracle import duck, result_hash

CHECK_THREADS = 4
# Passes a run makes at the least, and the seconds of one pass on the
# reference machine (4 vCPUs).
MIN_PASSES = 1
PASS_S = 10.0


def passes(seconds: float) -> int:
    return op_count(seconds, PASS_S, MIN_PASSES)


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _artifact_fills(spark, data: str):
    """(name, fill) for each session artifact the frozen list reads.

    Names follow bench.py's set-up labels; the fills are the calls
    bench.py makes for them.
    """
    from seamless_sharepoint_etl_spark import registry
    from seamless_sharepoint_etl_spark.llm_ops import dedup, text

    queries = registry.queries()

    return [
        # the staged source writes its files when the query is built
        ("staged_protobuf", lambda: queries["src_protobuf_wire_scan"](spark, data)),
        ("shingles", lambda: dedup._hashed_shingles(spark, data).count()),
        ("bigrams", lambda: text._bigram_relation(spark, data)),
    ]


class Staging:
    """Keeps the staged sources the engine writes under ``/tmp`` in the checkout.

    ``sources.formats`` builds its staging path as ``/tmp/<name>``. The
    helper is rebound to return ``<dir>/<name>`` instead; what is staged
    and how it is scanned are unchanged. Each set-up gets its own
    ``dir``, so every set-up stages from scratch.
    """

    def __init__(self):
        from seamless_sharepoint_etl_spark.sources import formats

        self.dir = None
        orig = formats._stage_dir

        def moved(*args):
            return os.path.join(self.dir, os.path.basename(orig(*args)))

        formats._stage_dir = moved


def run(ctx: Ctx) -> object:
    from seamless_sharepoint_etl_spark import registry

    spec = load_spec()
    names = [q["query"] for q in spec["queries"]]
    module_of = {q["query"]: q["module"] for q in spec["queries"]}
    data = work_path(ctx, "data")
    inputs.prepare(data, ctx.seed)
    staging = Staging()
    queries = registry.queries()
    oracles = registry.oracle_sql()

    def warm(spark, k):
        fills = {"io.table_warm_s": warm_tables(ctx, spark, data, inputs.TABLES)}
        staging.dir = work_path(ctx, f"staged-{k}")
        os.makedirs(staging.dir)
        for name, fill in _artifact_fills(spark, data):
            before = _storage_bytes(spark) + harness.dir_bytes(staging.dir)
            with ctx.tracer.span(f"artifact.{name}") as s:
                ctx.guard(f"fill {name}", fill)
            after = _storage_bytes(spark) + harness.dir_bytes(staging.dir)
            fills[f"artifact.{name}.fill_s"] = s.wall
            fills[f"artifact.{name}.bytes"] = after - before
        return fills

    spark = set_up(ctx, warm)
    t_check = time.perf_counter()

    # Untimed warm pass, which is also the run's output check. The
    # queries run on CHECK_THREADS threads; each result is then compared
    # with its DuckDB oracle.
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        results = {n: pool.submit(collect, spark, data, queries[n]) for n in names}
        con = duck(data, inputs.TABLES)
        for name in names:
            ctx.guard(f"check {name}", check_query, ctx, con, name,
                      results[name].result, oracles.get(name))
        con.close()
    ctx.note(f"output checks {time.perf_counter() - t_check:.1f} s")

    ctx.tracer.start_measure()
    span = ctx.tracer.span
    samples, pass_s = [], []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    book0 = ctx.tracer.bookkeeping_s
    t0 = time.perf_counter()
    for _ in range(passes(ctx.seconds)):
        order = list(names)
        ctx.rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            with span("query", query=name, module=module_of[name]) as q:
                ok = ctx.guard(f"query {name}", run_query, ctx, spark, data,
                               queries[name])
            if ok:
                ctx.record(True, name)
                samples.append(q.wall)
                per_query[name].append(q.wall)
        pass_s.append(time.perf_counter() - p0)
    loop_s = time.perf_counter() - t0
    ctx.note(f"measured {len(samples)} queries in {loop_s:.1f} s")
    measured(ctx, samples, loop_s, book0)
    ctx.layer["registry.pass_s"] = harness.median(pass_s)
    # The tail rule (the highest percentile with ten samples beyond it)
    # finds no tail in the two samples a run takes of each query; the
    # slowest query stands in.
    ctx.layer["registry.slowest_query_p50_s"] = max(
        (harness.median(ws) for ws in per_query.values() if ws), default=0.0
    )
    if ctx.trace:
        layer_metrics(ctx, len(pass_s))
    return spark


def run_query(ctx: Ctx, spark, data: str, fn) -> bool:
    """Build the query, then write it to the noop sink.

    The write plans the query itself, so ``exec`` includes planning;
    the tracer reads the planning share from that write's own
    QueryExecution (``plan_s`` counter).
    """
    span = ctx.tracer.span
    with span("build"):
        df = fn(spark, data)
    with span("exec"):
        df.write.format("noop").mode("overwrite").save()
    return True


def collect(spark, data: str, fn):
    df = fn(spark, data)
    return result_hash(df.columns, df.collect())


def check_query(ctx: Ctx, con, name: str, result, sql) -> None:
    """Compare one query's result hash with its DuckDB oracle's, or count its rows."""
    got = result()
    if sql is None:
        ctx.record(got[1] > 0, f"check {name}: {got[1]} rows")
        return
    rel = con.sql(sql)
    want = result_hash(rel.columns, rel.fetchall())
    ctx.record(got == want, f"check {name}: spark {got[:2]} oracle {want[:2]}")


PACKAGE_COUNTERS = (
    "plan_s",
    "jobs",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
)


def layer_metrics(ctx: Ctx, n_passes: int) -> None:
    """Per-pass sums by package and by module, from the traced spans.

    ``plan_s`` is taken from the ``exec`` span alone: it is the planning
    of the write that runs the query. Queries a builder runs eagerly
    count in ``build_s``, their planning included.
    """
    by_id = {s.span_id: s for s in ctx.tracer.spans}
    pkg: dict[str, dict[str, float]] = {}
    mod: dict[str, float] = {}
    for q in spans_named(ctx, "query"):
        module = q.attrs["module"]
        mod[module] = mod.get(module, 0.0) + q.wall
        acc = pkg.setdefault(module.split(".")[0], {})
        for child in (s for s in by_id.values() if s.parent == q.span_id):
            acc[f"{child.name}_s"] = acc.get(f"{child.name}_s", 0.0) + child.wall
            for c in PACKAGE_COUNTERS:
                if c != "plan_s" or child.name == "exec":
                    acc[c] = acc.get(c, 0) + child.counters[c]
    for p, acc in pkg.items():
        for key, v in acc.items():
            ctx.layer[f"{p}.{key}"] = v / n_passes
    for m, v in mod.items():
        ctx.layer[f"{m}.wall_s"] = v / n_passes
