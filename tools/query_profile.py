"""Per-query profile: where does a warm query's time go, and how many
driver-synchronized jobs, stages and tasks does it launch?

Usage: python tools/query_profile.py [sf_dir] [query1,query2,... | TOPN]

TOPN picks the N slowest queries of the committed BENCH_FULL.json.
After ``artifacts.warm`` (the setup bench.py performs) and one warm
pass over the selection (codegen, broadcasts), each query reports:

  build_s  Python-side DataFrame construction (py4j + incremental
           analysis; builders such as the BPE trainer also launch jobs)
  plan_s   executedPlan() (optimizer + physical planning; AQE re-plans
           at run time, not here)
  run1_s   first noop execution of that DataFrame
  run2_s   build + plan + run of a FRESH DataFrame (the bench's
           steady-state shape)
  jobs, stages, tasks
           launched by build, plan and run1 (one job group, set before
           the build); skipped stages are not counted
  exch     Exchange nodes in the static executed plan (post-AQE final
           plans may differ)

At fixture scale most queries are overhead-bound: wall ≈ jobs × job
latency + stages × stage latency + tasks × task overhead. A query whose
build/plan dominates needs a cheaper construction pattern; a
run-dominated one needs fewer passes or shuffles.
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


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _launched(tracker, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the job group launched."""
    job_ids = tracker.getJobIdsForGroup(group)
    n_stages = n_tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            s = tracker.getStageInfo(sid)
            if s and s.numTasks and (
                s.numActiveTasks or s.numCompletedTasks or s.numFailedTasks
            ):
                n_stages += 1
                n_tasks += s.numCompletedTasks
    return len(job_ids), n_stages, n_tasks


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sel = sys.argv[2] if len(sys.argv) > 2 else "20"

    from seamless_sharepoint_etl_spark import artifacts, registry
    from seamless_sharepoint_etl_spark.session import get_spark

    if sel.isdigit():
        path = os.path.join(os.path.dirname(__file__), "..", "BENCH_FULL.json")
        with open(path) as f:
            timed = json.load(f)["queries"]
        names = sorted(timed, key=lambda n: -timed[n])[: int(sel)]
    else:
        names = sel.split(",")

    spark = get_spark("query-profile")
    sc = spark.sparkContext
    queries = registry.queries()
    artifacts.warm(spark, sf_dir)
    for name in names:
        try:
            _noop(queries[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: warm ERROR {type(e).__name__}: {e}")

    tracker = sc.statusTracker()
    hdr = (
        f"{'query':34} {'build':>7} {'plan':>7} {'run1':>7} {'run2':>7}"
        f" {'jobs':>5} {'stages':>7} {'tasks':>6} {'exch':>5}"
    )
    print(hdr)
    print("-" * len(hdr))
    for name in names:
        fn = queries[name]
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            plan = df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            _noop(df)
            t3 = time.time()
            sc.setJobGroup(None, None)
            _noop(fn(spark, sf_dir))
            t4 = time.time()
        except Exception as e:  # noqa: BLE001
            print(f"{name:34} ERROR {type(e).__name__}: {e}")
            continue
        finally:
            sc.setJobGroup(None, None)
        jobs, stages, tasks = _launched(tracker, group)
        print(
            f"{name:34} {t1 - t0:7.3f} {t2 - t1:7.3f} {t3 - t2:7.3f}"
            f" {t4 - t3:7.3f} {jobs:5d} {stages:7d} {tasks:6d}"
            f" {plan.toString().count('Exchange'):5d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
