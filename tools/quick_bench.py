"""Subset micro-bench: same methodology as bench.py (warm session,
noop sink, per-query median of N back-to-back passes) over a named
subset — for before/after A-B runs during optimization work. Not the
published bench; bench.py stays the driver contract.

Usage: python tools/quick_bench.py <q1>[,<q2>...] [sf_dir] [n_runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# one Spark core per usable CPU (as the tier-1 command exports `nproc`):
# session.get_spark defaults to local[32], which on a smaller machine
# times oversubscription instead of the query
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from seamless_sharepoint_etl_spark import artifacts, registry
    from seamless_sharepoint_etl_spark.session import get_spark

    spark = get_spark("quick-bench")
    queries = registry.queries()

    # bench.py's setup: the session artifacts, then a codegen pass at
    # the smallest SF
    artifacts.warm(spark, sf_dir)
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf) and warm_sf != sf_dir:
        for name in names:
            try:
                queries[name](spark, warm_sf).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # best-effort, as in bench.py

    runs: list[dict[str, float]] = []
    for _ in range(n_runs):
        pass_timings: dict[str, float] = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"quick-bench:{name}")
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            pass_timings[name] = time.time() - t0
        runs.append(pass_timings)
    med = {
        name: round(sorted(run[name] for run in runs)[n_runs // 2], 3)
        for name in names
    }
    print(json.dumps({"medians": med, "raw": runs}, indent=1))


if __name__ == "__main__":
    main()
