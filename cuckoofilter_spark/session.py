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

# Rows per batch of Spark's vectorized Parquet reader
# (spark.sql.parquet.columnarReaderBatchSize, Spark's default 4096).
# Each task's reader holds one int vector for the elements of a batch
# of `tokens: array<int32>`, grown by doubling. At the canonical ~340
# tokens per row, 4096 rows need ~1.4M ints (~5.6 MB); 256 rows need
# ~87k (~0.35 MB). A G1 heap allocates any object of half a region or
# more as a humongous object, outside the young generation, and each
# such allocation may start a collection; with a 1 GB driver heap the
# regions are 1 MB. In loops of `build` ops there (16k-doc table,
# local[4], three sessions per value), 4096 rows gave 7-10 young
# pauses and 89-107 ms of pauses per op, and 2.6-3.0 JVM cpu-s; 256
# rows gave 2-4 pauses, 29-46 ms and 2.1-2.5 cpu-s. The `build`
# workload of perfbench, 4 cores, 10 seeds, each value paired with a
# 4096-row run made first:
#   rows   pairs won   items_per_cpu_s, median gain   peak_rss_mb
#    256   10 of 10    +12.2%                         -14.2%
#    512    8 of 10    +15.4%                          -7.9%
#   1024    8 of 10     +8.6%                         -12.2%
# and 10 more seeds in rotating order: 256 +19.5% (10 of 10), 512
# +15.6% (10 of 10). Scalar scans showed no cost at 256 rows: `sum` over
# a TPC-H lineitem column (600k rows) or over `n_tok` took the same JVM
# CPU and wall time, within run-to-run noise, as at 4096. The Arrow
# batch below is a separate setting and stays at 8192 rows.
PARQUET_READER_BATCH_ROWS = 256


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
        .config("spark.sql.parquet.columnarReaderBatchSize",
                str(PARQUET_READER_BATCH_ROWS))
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
