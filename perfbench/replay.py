"""Driver-side replay of the four sketch kernels on one partition's
worth of a workload's keys: the ``kernels`` layer's per-layer numbers.

The Spark builds run these same ``add_many`` / ``merge`` /
``from_bytes`` calls inside Python workers, where their time is mixed
with Arrow transfer and scheduling; replayed here, in one process, each
kernel is timed on its own.
"""

from __future__ import annotations

import time

import numpy as np

from cuckoofilter_spark.kernels.cms import CountMinSketch
from cuckoofilter_spark.kernels.cuckoo import CuckooFilter
from cuckoofilter_spark.kernels.hll import HyperLogLog
from cuckoofilter_spark.kernels.kll import KLLSketch

from checks import (CF_BITS, CMS_DELTA, CMS_EPS, HLL_P, KLL_K, SKETCH_SEED,
                    VOCAB)
from measure import median

_MIN_TIMED_S = 0.2  # repeat a call until this much time is measured


def _per_call_s(fn, reps: int = 3) -> float:
    """Median wall time of one ``fn()`` call, over at least ``reps``
    calls and at least ``_MIN_TIMED_S`` of measured time."""
    times: list[float] = []
    while len(times) < reps or sum(times) < _MIN_TIMED_S:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return median(times)


def partition_keys(path: str) -> tuple[np.ndarray, np.ndarray]:
    """The tokens of one Parquet file as uint64 keys (the bit-view the
    library's workers use) and its ``n_tok`` values as float64."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["tokens", "n_tok"])
    flat = t.column("tokens").combine_chunks().flatten().to_numpy()
    return (flat.astype(np.int64).view(np.uint64),
            t.column("n_tok").to_numpy().astype(np.float64))


def kernel_metrics(keys: np.ndarray, values: np.ndarray) -> dict:
    """Add / contains throughput, merge and deserialize time and blob
    size of each kernel, with the workloads' sketch parameters."""
    out: dict = {}
    unique = np.unique(keys)

    def cuckoo():
        f = CuckooFilter.create(VOCAB, bits=CF_BITS, seed=SKETCH_SEED)
        f.add_many(unique)
        return f

    # the Spark build adds each partition's deduplicated keys
    out["kernels.cuckoo.add_keys_per_s"] = unique.size / _per_call_s(cuckoo)
    filt = cuckoo()
    out["kernels.cuckoo.contains_keys_per_s"] = keys.size / _per_call_s(
        lambda: filt.contains_many(keys))
    out["kernels.cuckoo.load_factor"] = filt.load_factor()

    makers = {
        "hll": (HyperLogLog, lambda: HyperLogLog(p=HLL_P, seed=SKETCH_SEED),
                keys),
        "cms": (CountMinSketch, lambda: CountMinSketch.create(
            eps=CMS_EPS, delta=CMS_DELTA, seed=SKETCH_SEED), keys),
        "kll": (KLLSketch, lambda: KLLSketch(k=KLL_K, seed=SKETCH_SEED),
                values),
    }
    for name, (cls, make, data) in makers.items():
        def build(make=make, data=data):
            k = make()
            k.add_many(data)
            return k

        rate = data.size / _per_call_s(build)
        out[f"kernels.{name}." + ("add_per_s" if name == "kll"
                                  else "add_keys_per_s")] = rate
        a, b = build(), build()
        blob = a.to_bytes()
        out[f"kernels.{name}.merge_s"] = _per_call_s(lambda: cls.merge(a, b))
        out[f"kernels.{name}.from_bytes_s"] = _per_call_s(
            lambda: cls.from_bytes(blob))
        out[f"kernels.{name}.blob_bytes"] = len(blob)
    return out
