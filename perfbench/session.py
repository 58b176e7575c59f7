"""The benchmark's Spark session, sized for the machine it runs on, and
its teardown. Everything Spark writes goes under the run's work dir."""

from __future__ import annotations

import os
import sys
import time

# Driver heap: a quarter of physical memory, capped at 4 GiB — leaves room
# for one Python worker per core and the page cache on a 15 GiB box.
DRIVER_HEAP_CAP_MB = 4096


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1024, min(DRIVER_HEAP_CAP_MB, total // 4 // (1 << 20)))


def start(root: str, work: str):
    """``local[cores]`` session through the engine's own factory. The
    checkout root goes on PYTHONPATH so Python workers can import the
    engine from any working directory."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    from roddy_spark.session import build_session
    n = cores()
    spark = build_session(
        app_name="perfbench", cores=n, shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{driver_heap_mb()}m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            # job groups are counted from the status store; keep every job
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def stop(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    from perfbench.trace import _descendants
    pid = jvm_pid(spark)
    procs = [pid] + _descendants(pid)
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.terminate()
        proc.wait(timeout)
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
