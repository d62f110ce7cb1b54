"""Host-sized SparkSession for the benchmark.

Sized from the host it runs on: ``local[nproc]`` cores and a driver
heap that is a fixed fraction of physical RAM. State lives in the
RocksDB provider, the UI is off and the status stores are capped.
Every file Spark, the JVM or the Python workers write goes under the
run's work directory, so a run writes nothing outside its checkout.
"""

from __future__ import annotations

import os

#: Share of physical RAM given to the driver JVM heap.
DRIVER_MEM_FRACTION = 0.125

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(int(line.split()[1]) / 1024 * DRIVER_MEM_FRACTION)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_env(repo_root: str, work: str) -> None:
    """Process environment the JVM and its Python workers inherit; must
    run before the first session starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers import stream_sentinel_spark from the checkout
    parts = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(parts))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def build_session(work: str, *, cores: int | None = None, event_log: str | None = None):
    """Start (or restart, inside the running JVM) the benchmark session.

    ``event_log``: directory for Spark's event log, written uncompressed
    (the traced run parses it); None leaves the event log off."""
    from pyspark.sql import SparkSession

    cores = cores or host_cores()
    tmp = os.path.join(work, "tmp")
    mem = driver_mem_mb()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        # the heap is resident from the start: when G1 grows a heap, or
        # first touches committed pages, is timing-dependent, and the peak
        # resident memory of like runs differed by up to 1.6 GB
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # bench.py's status-store caps: bound driver heap held by
        # job/stage/SQL metadata across many micro-batches
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.worker.ui.retainedExecutors", "20")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
