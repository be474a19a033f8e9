"""Process-level plumbing shared by the workloads.

Keeps every file the run writes inside the checkout, starts and stops
the engine's Spark session, and reads peak memory from ``/proc``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "seamless_sharepoint_etl_spark"
# Every run keeps its files under this directory of the checkout.
STATE_DIR = os.path.join(REPO, ".perfbench")
DRIVER_MEMORY = "2g"


class EngineMissing(RuntimeError):
    """The checkout holds no engine package to benchmark."""


def check_engine() -> None:
    if not os.path.isfile(os.path.join(REPO, ENGINE, "__init__.py")):
        raise EngineMissing(f"no {ENGINE} package under {REPO}")


def make_work_dir(workload: str, seed: int) -> str:
    """A fresh per-run directory with the temp and spill dirs Spark uses.

    Must run before pyspark starts its JVM: the environment set here is
    what keeps the JVM, its Python workers and Spark's local dirs from
    writing outside the checkout.
    """
    work = os.path.join(STATE_DIR, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # The driver JVM's heap starts at its maximum, so heap resizing is
    # not one more thing that can differ between runs.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell"
    )
    # Applies to every JVM spark-submit starts, its launcher included;
    # -XX:-UsePerfData stops each from creating /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    return work


def start_session():
    """Start the engine's session through its own factory; return (spark, secs)."""
    from seamless_sharepoint_etl_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    return spark, time.perf_counter() - t0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the Spark JVM it launched."""
    kb = _vm_hwm_kb("self")
    proc = _jvm_process()
    if proc is not None and proc.poll() is None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def shutdown(spark) -> None:
    """Stop Spark, then end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    proc = _jvm_process()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # The gateway server exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
