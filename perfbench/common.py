"""What every workload shares: the run context, set-up and metric helpers."""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import harness
from .trace import Tracer

# Set-ups per run; setup_s is their median. The first also pays JVM
# start and the JVM's cold code. A third set-up would add about 12 s to
# every query_mix run.
SETUPS = 2


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: Tracer
    rng: random.Random
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    spark: object = None  # the live session, for shutdown

    def record(self, ok: bool, what: str) -> None:
        """Count one operation, and report it on stderr if it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    def note(self, what: str) -> None:
        """Report progress on stderr; stdout's last line is the result."""
        print(f"perfbench: {what}", file=sys.stderr, flush=True)

    def guard(self, what: str, fn, *args):
        """Run ``fn``; a raised error counts as one failed operation."""
        try:
            return fn(*args)
        except Exception:  # any engine error fails this operation only
            traceback.print_exc(file=sys.stderr)
            self.record(False, what)
            return None


def warm_tables(ctx: Ctx, spark, data_dir: str, tables) -> float:
    """Load ``tables`` through ``io.load_table`` and scan each once."""
    from seamless_sharepoint_etl_spark import io

    with ctx.tracer.span("io.table_warm") as s:
        for t in tables:
            io.load_table(spark, data_dir, t).write.format("noop").mode(
                "overwrite"
            ).save()
    return s.wall


def set_up(ctx: Ctx, warm) -> object:
    """Run SETUPS set-ups, each on a fresh session; keep the last session.

    A set-up is session start plus ``warm(spark, k)``, which returns the
    per-layer fills it timed. setup_s is the median of the set-up times.
    """
    totals, starts, layer = [], [], {}
    for k in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        spark, start_s = harness.start_session()
        ctx.spark = spark
        ctx.tracer.bind(spark)
        fills = warm(spark, k)
        totals.append(time.perf_counter() - t0)
        ctx.note(f"set-up {k + 1} of {SETUPS} {totals[-1]:.1f} s")
        starts.append(start_s)
        for name, v in fills.items():
            layer.setdefault(name, []).append(v)
    ctx.e2e["setup_s"] = harness.median(totals)
    ctx.layer["session.start_s"] = harness.median(starts)
    for name, vs in layer.items():
        ctx.layer[name] = harness.median(vs)
    return spark


def measured(ctx: Ctx, samples, loop_s: float, book0: float) -> None:
    """Record the loop's op_gmean_s and ops_per_s, and the tracer's share of it.

    op_gmean_s is the geometric mean of the operation times, the summary
    TPC-H's power metric uses for a query suite: every operation counts,
    none dominates by its size, and it does not jump between neighbours
    the way a median of a dozen unlike queries does.

    ``book0`` is the tracer's bookkeeping time when the loop started.
    """
    ctx.e2e["op_gmean_s"] = statistics.geometric_mean(samples) if samples else 0.0
    ctx.e2e["ops_per_s"] = len(samples) / loop_s
    if ctx.trace:
        ctx.layer["trace.op_gmean_s"] = ctx.e2e["op_gmean_s"]
        ctx.layer["trace.bookkeeping_pct"] = (
            100.0 * (ctx.tracer.bookkeeping_s - book0) / loop_s
        )


def op_count(seconds: float, nominal_s: float, minimum: int) -> int:
    """Operations a run makes: one per ``nominal_s`` of ``seconds``, at least ``minimum``.

    ``nominal_s`` is an operation's time on the reference machine. The
    count depends on ``--seconds`` alone, so every build under test
    does the same work however fast it runs.
    """
    return max(minimum, round(seconds / nominal_s))


def spans_named(ctx: Ctx, name: str):
    """Traced spans called ``name`` from the measured loop."""
    return [
        s for s in ctx.tracer.spans if s.name == name and s.phase == "measure"
    ]


def span_metrics(ctx: Ctx, name: str, counters=()) -> None:
    """Median wall and per-call counters of the traced spans called ``name``."""
    got = spans_named(ctx, name)
    ctx.layer[f"{name}.wall_s"] = harness.median(s.wall for s in got)
    for c in counters:
        key = "shuffle_bytes" if c == "shuffle" else c
        ctx.layer[f"{name}.{key}"] = harness.median(
            (s.counters["shuffle_read_bytes"] + s.counters["shuffle_write_bytes"])
            if c == "shuffle"
            else s.counters[c]
            for s in got
        )


def load_spec() -> dict:
    """The benchmark's recorded facts: workloads, frozen query list, metric map."""
    with open(os.path.join(os.path.dirname(__file__), "spec.json")) as fh:
        return json.load(fh)


def manifest(root: str) -> dict:
    """The sink's committed snapshot, read from its on-disk manifest."""
    mdir = os.path.join(root, "_manifest")
    with open(os.path.join(mdir, "LATEST")) as fh:
        with open(os.path.join(mdir, fh.read().strip())) as vf:
            return json.load(vf)


def work_path(ctx: Ctx, *parts: str) -> str:
    return os.path.join(ctx.work, *parts)
