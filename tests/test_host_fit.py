"""The suite's session fits the host it runs on, and every local session
comes from the one host-sized builder (``testing.local_session``)."""

from __future__ import annotations

import os
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("MemTotal missing from /proc/meminfo")


def test_fixture_session_fits_host(spark):
    cores = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    assert spark.sparkContext.master == f"local[{cores}]"
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    assert mem is not None, "driver memory left to the JVM default"
    assert int(mem[:-1]) * _UNITS[mem[-1].lower()] <= _mem_total_bytes(), mem
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert heap <= _mem_total_bytes()


def test_one_local_session_builder():
    needle = "SparkSession" + ".builder"
    hits = {
        str(p.relative_to(REPO))
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") or part == "__pycache__" for part in p.parts)
        and needle in p.read_text()
    }
    assert hits == {
        "stream_sentinel_spark/testing.py",  # local_session
        "stream_sentinel_spark/job.py",  # spark-submit sets master and memory
        "perfbench/session.py",  # the benchmark's own session
    }
