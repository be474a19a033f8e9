"""Check that traced runs repeat their exact counts, and report tracing overhead.

    python3 perfbench/selfcheck.py --workload etl_cycle --seed 1

Runs the workload once untraced and twice traced with the same seed.
The exact counts (``*.jobs``, ``*.tasks``,
``sinks.manifest_bytes_per_commit``, ``sinks.files_per_snapshot`` and
``sinks.stored_bytes_per_row``) must be identical in the two traced
runs. Shuffle and spill bytes are not held to this: the sources
package's shuffle bytes differed between two traced query_mix runs of
one seed. The tracing overhead is the traced runs' ``trace.op_gmean_s``
minus the untraced run's ``op_gmean_s``. Prints one JSON object; exits 1
if a count differs or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
EXACT = ("sinks.manifest_bytes_per_commit", "sinks.files_per_snapshot",
         "sinks.stored_bytes_per_row")


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} run failed:\n{out.stderr[-4000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="default: BENCHMARK.json's run_seconds")
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["per_layer"]]
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    exact = [n for n in names if n.endswith((".jobs", ".tasks")) or n in EXACT]

    plain = run(args.workload, args.seed, args.seconds, 0)
    first = run(args.workload, args.seed, args.seconds, 1)
    second = run(args.workload, args.seed, args.seconds, 1)
    differ = {n: (first[n], second[n]) for n in exact if first[n] != second[n]}
    traced = (first["trace.op_gmean_s"] + second["trace.op_gmean_s"]) / 2
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "exact_counts": len(exact),
        "differ": differ,
        "untraced_op_gmean_s": plain["op_gmean_s"],
        "traced_op_gmean_s": traced,
        "tracing_overhead_s": traced - plain["op_gmean_s"],
        "tracing_overhead_pct": 100.0 * (traced / plain["op_gmean_s"] - 1.0),
        "bookkeeping_pct": (first["trace.bookkeeping_pct"]
                            + second["trace.bookkeeping_pct"]) / 2,
    }))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
