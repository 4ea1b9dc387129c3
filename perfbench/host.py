"""Host-sized Spark session owned by the benchmark.

Everything Spark writes (shuffle files, temp files, warehouse) lands under the
benchmark's own work directory. The package is passed to Python workers
through PYTHONPATH, because it is not installed.
"""

from __future__ import annotations

import os
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK_DIR = os.path.join(BENCH_DIR, ".work")


def host_cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of host RAM, 2-8 GB: the local-mode JVM shares the host
    with the Python workers, the inputs and other tenants."""
    return f"{max(2, min(8, int(host_mem_gb() // 4)))}g"


def prepare_env() -> None:
    """Set the environment the JVM and its Python workers inherit. Must run
    before the first Spark session starts."""
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = driver_mem()
    os.environ["TMPDIR"] = tmp
    # both JVMs (the launcher and the driver): temp files in the work
    # directory, and no hsperfdata file, which the JVM always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(cores: int | None = None):
    """Start (or restart) the benchmark's session through the package's
    get_spark. Returns (spark, seconds it took)."""
    from graphzeppelin_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cores=cores or host_cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        },
    )
    spark.range(1).count()  # the session is usable, not just constructed
    return spark, time.perf_counter() - t0


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def jvm_gc(spark) -> None:
    spark.sparkContext._jvm.System.gc()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
