"""SparkSession factory with the configs this library assumes.

Local defaults fit the host: local[N] over the CPUs this process may
use, and a driver heap of half the physical memory. On a real cluster
only the master/shuffle-partition settings change — the library's
operators depend on nothing here except Arrow being enabled.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

_PKG_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """``$SPARK_DRIVER_MEM``, else half of physical memory, at most 32g."""
    half_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
               // 2) >> 20
    return os.environ.get("SPARK_DRIVER_MEM") or f"{min(half_mb, 32 << 10)}m"


def get_spark(app: str = "cuckoofilter-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or cores
    # Python workers must import this package regardless of driver cwd.
    # Local-mode stand-in for `spark-submit --py-files cuckoofilter_spark.zip`.
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _PKG_ROOT + (os.pathsep + pp if pp else "")
    # The env export above only reaches workers if the JVM launches
    # AFTER it; a JVM left over from an earlier (stopped) session keeps
    # its old env. executorEnv is applied per SparkContext, so it covers
    # that case too (measured: plain session -> stop -> get_spark).
    worker_pp = os.environ["PYTHONPATH"]
    # Freed large buffers must stay reusable inside long-lived Python
    # workers: this sandbox's VM hands pages to the guest at ~50 MB/s on
    # FIRST touch (demand faulting), so the win is never giving pages
    # back. Workers inherit the env in local mode (spark-submit would use
    # spark.executorEnv.* for the same effect).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8k rows (~3 MB of int32 tokens at the canonical ~340 tok/row)
        # bounds each worker's peak buffer footprint; first-touch page
        # faults in this sandbox cost ~50 MB/s, so peak-memory churn, not
        # batch count, is what hurts
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    # e.g. spark.eventLog.* for the task-metrics capture
    # (plans/metrics.py) — session-level knobs only, never operator deps
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()
