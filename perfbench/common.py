"""Shared plumbing for the benchmark: the work directory, the Spark
environment, set-up timing, percentiles and peak memory.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``,
including Spark's local dirs, the JVM temp dir and the event log, so a run
leaves nothing outside the checkout.
"""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

#: Spark parallelism.  Capped at 4 so hosts with more cores run the same
#: plan shapes (shuffle partitions follow this number).
CPUS = min(4, os.cpu_count() or 1)
#: Driver heap.  The host is shared, so keep it small.
DRIVER_MEM = "1536m"
#: Set-ups (session start and load) per run; ``setup_s`` is their median
#: plus the one warm-up that follows them.  The first set-up also pays for
#: the JVM launch, which ``session.jvm_start_s`` reports on its own.
SETUPS = 3


class Workspace:
    """The run's scratch tree under the checkout, emptied at start and end."""

    def __init__(self, root: str, workload: str):
        self.root = root
        self.dir = os.path.join(root, ".perfbench_work", workload)

    def __enter__(self) -> "Workspace":
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog", "data"):
            os.makedirs(os.path.join(self.dir, sub))
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)


def configure_spark_env(ws: Workspace, trace: bool) -> None:
    """Point Spark, the JVM and Python's tempfile at the work directory.

    Must run before the JVM starts.  The event log is turned on here, only
    for traced runs, through spark-submit arguments rather than through the
    library's session factory."""
    tmp = ws.path("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = ws.path("local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()
    # a heap committed and touched up front: the JVM's resident size then
    # does not follow the collector's run-to-run sizing choices
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    args = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.local.dir={ws.path('local')}",
        "--conf", f"spark.sql.warehouse.dir={ws.path('warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{ws.path('eventlog')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it, so no process outlives the
    run.  The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def quiet(spark) -> None:
    spark.sparkContext.setLogLevel("ERROR")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values)


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (vm_hwm_kb(jvm_pid) + vm_hwm_kb()) / 1024.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
