"""Run one workload of the engine's benchmark and print its metrics.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0

Lays out the workload's input tables (``perfbench/fixture``) inside
the checkout as the seed says, sets up the engine (session, table
warm-up, session artifacts) several times, measures the workload's
closed loop, a number of operations set by ``--seconds``, checks the
outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, and the run's spans are
written to ``.perfbench/spans/``. Exits 2 when the checkout holds no
engine.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_cycle", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        harness.check_engine()
    except harness.EngineMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(harness.REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    from perfbench import etl_cycle, query_mix
    from perfbench.common import Ctx
    from perfbench.trace import Tracer

    work = harness.make_work_dir(args.workload, args.seed)
    run_id = os.path.basename(work)
    ctx = Ctx(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=work,
        tracer=Tracer(run_id, bool(args.trace)),
        rng=random.Random(args.seed),
    )
    workload = {
        "etl_cycle": etl_cycle,
        "query_mix": query_mix,
    }[args.workload]
    try:
        workload.run(ctx)
        ctx.layer["process.peak_rss_mb"] = harness.peak_rss_mb()
    finally:
        if ctx.spark is not None:
            harness.shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        spans_dir = os.path.join(harness.STATE_DIR, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(spans_dir, f"{run_id}.jsonl"))
        chosen, values = bench["per_layer"], ctx.layer
    else:
        chosen, values = bench["end_to_end"], ctx.e2e
    # A layer this workload does not call reports 0.
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for m in chosen
    }
    missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in ctx.e2e]
    if missing:
        print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0 and not missing,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
