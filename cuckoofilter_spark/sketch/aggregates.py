"""Column-level sketch aggregates: HLL, count-min, KLL, Misra-Gries,
AMS, CQF, t-digest. The Bloom filter families build through
``membership.build_filter``; their ``*_sketch`` names here are aliases
of it.

Each builder hands ``udaf.aggregate_sketch`` (or its grouped form) a
kernel factory and the kernel class; the engine derives update, merge
and decode from the kernel. Key sketches accept either a scalar integer
key column or a pre-tokenized ``array<int>`` column (flattened inside
the Arrow batch — the 10^12-sequence token table never pays a
Spark-side explode, which would multiply shuffle rows by ~250x).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from ..kernels.cms import CountMinSketch
from ..kernels.hll import HyperLogLog
from ..kernels.kll import KLLSketch
from ..kernels.mg import MisraGries
from .membership import _blob_method_col, build_filter, contains_col
from .udaf import aggregate_sketch, drop_archive_finders, grouped_aggregate_sketch


def hll_sketch(df: DataFrame, col: str, p: int = 14,
               seed: int = 0x5EED) -> HyperLogLog:
    """Distributed distinct-count sketch (count_distinct analogue,
    bulk-insert-and-query.cc:456-468, as a mergeable aggregate)."""
    return aggregate_sketch(df, col, lambda: HyperLogLog(p=p, seed=seed),
                            HyperLogLog)


def mg_sketch(df: DataFrame, col: str, k: int = 256) -> MisraGries:
    """Distributed Misra-Gries heavy hitters (the deterministic top-k
    companion to ``cms_sketch``: exact keys, guaranteed undercount
    bound). Per-partition compaction keeps each partial at <= k
    counters; the tree merge is the exact sparse sum (associative), so
    the result is partition-order independent and holds at most
    ``num_partials * k`` entries (``compact()`` re-bounds it to k)."""
    return aggregate_sketch(df, col, lambda: MisraGries(k=k), MisraGries)


def grouped_hll_sketch(df: DataFrame, group_col: str, col: str, p: int = 14,
                       seed: int = 0x5EED) -> DataFrame:
    """Per-group HLL blobs: ``(group, blob)``, one row per distinct
    ``group_col`` value (the corpus-accounting axis: distinct tokens
    per source / language / date shard). Map-side combine — shuffle
    carries at most partitions x groups blobs, never rows."""
    return grouped_aggregate_sketch(
        df, group_col, col, lambda: HyperLogLog(p=p, seed=seed), HyperLogLog,
    ).withColumnRenamed("g", group_col)


def grouped_hll_distinct(df: DataFrame, group_col: str, col: str, p: int = 14,
                         seed: int = 0x5EED) -> DataFrame:
    """Per-group distinct-count estimates: ``(group, est_distinct)``."""
    @F.arrow_udf(T.DoubleType())
    def est(b: pa.Array) -> pa.Array:
        drop_archive_finders()
        return pa.array([HyperLogLog.from_bytes(x).estimate()
                         for x in b.to_pylist()], pa.float64())

    return (grouped_hll_sketch(df, group_col, col, p=p, seed=seed)
            .select(F.col(group_col), est(F.col("blob")).alias("est_distinct")))


def grouped_kll_quantiles(df: DataFrame, group_col: str, col: str,
                          qs: tuple = (0.25, 0.5, 0.75), k: int = 200,
                          seed: int = 0x5EED) -> DataFrame:
    """Per-group KLL quantiles over a numeric column:
    ``(group, q, value)`` — the sequence-length-distribution-per-source
    question. Same blob-only shuffle as grouped_hll_sketch."""
    blobs = grouped_aggregate_sketch(
        df, group_col, col, lambda: KLLSketch(k=k, seed=seed), KLLSketch)
    gtype = df.schema[group_col].dataType.simpleString()
    qlist = [float(q) for q in qs]

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_archive_finders()
        for b in batches:
            for i, blob in enumerate(b.column("blob").to_pylist()):
                sk = KLLSketch.from_bytes(blob)
                yield pa.RecordBatch.from_pydict(
                    {"g": b.column("g").take(np.full(len(qlist), i)),
                     "q": pa.array(qlist, pa.float64()),
                     "value": sk.quantile(np.array(qlist)).astype(float)})

    return (blobs.mapInArrow(explode, schema=f"g {gtype}, q double, value double")
            .withColumnRenamed("g", group_col))


def grouped_mg_topk(df: DataFrame, group_col: str, col: str, k: int = 256,
                    topn: int = 10) -> DataFrame:
    """Per-group Misra-Gries heavy hitters: ``(group, key, est)`` with
    the ``topn`` largest surviving counters per group (``est`` is the
    guaranteed undercount; true count is in ``[est, est + n_g/(k+1)]``).
    Compact-after-merge bounds every shuffled blob to k entries."""
    blobs = grouped_aggregate_sketch(
        df, group_col, col, lambda: MisraGries(k=k), MisraGries,
        finalize=MisraGries.compact)
    gtype = df.schema[group_col].dataType.simpleString()

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_archive_finders()
        for b in batches:
            for i, blob in enumerate(b.column("blob").to_pylist()):
                mg = MisraGries.from_bytes(blob)
                order = np.argsort(-mg.counts, kind="stable")[:topn]
                yield pa.RecordBatch.from_pydict(
                    {"g": b.column("g").take(np.full(order.size, i)),
                     "key": mg.keys[order].view(np.int64),
                     "est": mg.counts[order]})

    return (blobs.mapInArrow(explode, schema=f"g {gtype}, key long, est long")
            .withColumnRenamed("g", group_col))


def cms_sketch(df: DataFrame, col: str, eps: float = 0.0005, delta: float = 0.01,
               seed: int = 0x5EED) -> CountMinSketch:
    """Distributed point-frequency sketch (CQF counting capability,
    gqf.h:137-201, as an elementwise-add mergeable aggregate)."""
    return aggregate_sketch(
        df, col, lambda: CountMinSketch.create(eps=eps, delta=delta, seed=seed),
        CountMinSketch)


def ams_f2_sketch(df: DataFrame, col: str, width: int = 4096,
                  depth: int = 5, seed: int = 0x5EED) -> "AmsF2":
    """Distributed second-moment (F2 / self-join size / key-skew)
    sketch: one AMS tug-of-war table per partition, tree-merged by
    elementwise add (kernels/ams.py). Blob-only shuffle — the key
    column never re-partitions."""
    from ..kernels.ams import AmsF2

    return aggregate_sketch(
        df, col, lambda: AmsF2(width=width, depth=depth, seed=seed), AmsF2)


def kll_sketch(df: DataFrame, col: str, k: int = 200,
               seed: int = 0x5EED) -> KLLSketch:
    """Distributed quantile sketch over a numeric column."""
    return aggregate_sketch(df, col, lambda: KLLSketch(k=k, seed=seed),
                            KLLSketch)


def cqf_sketch(df: DataFrame, col: str, q: int = 20, r: int = 28,
               seed: int = 0x5EED) -> "CountingQuotientFilter":
    """Distributed counting-quotient-filter build (gqf.h semantics:
    exact multiset counts at fingerprint resolution, lossless merge)."""
    from ..kernels.cqf import CountingQuotientFilter

    return aggregate_sketch(
        df, col, lambda: CountingQuotientFilter(q=q, r=r, seed=seed),
        CountingQuotientFilter)


def cqf_count_col(spark: SparkSession, sketch, col) -> Column:
    """Exact-at-fingerprint-resolution count Column (qf_count_key_value)."""
    from ..kernels.cqf import CountingQuotientFilter

    return _blob_method_col(spark, sketch, col, CountingQuotientFilter,
                            method="count_many", rettype=T.LongType())


def tdigest_sketch(df: DataFrame, col: str, delta: float = 200.0) -> "TDigest":
    """Distributed t-digest over a numeric column (tail-accurate
    quantiles; the north rule's companion to KLL)."""
    from ..kernels.tdigest import TDigest

    return aggregate_sketch(df, col, lambda: TDigest(delta=delta), TDigest)


def cms_lookup_col(spark: SparkSession, sketch: CountMinSketch, col) -> Column:
    """Estimated frequency Column against a broadcast CMS blob."""
    return _blob_method_col(spark, sketch, col, CountMinSketch,
                            method="query_many", rettype=T.LongType())


# per-family names of the one filter build and the one membership probe,
# kept for existing callers
bloom_sketch = partial(build_filter, kind="bloom")
blocked_bloom_sketch = partial(build_filter, kind="blocked_bloom")
blocked_bloom64_sketch = partial(build_filter, kind="blocked_bloom64")
fixed_blocked_bloom_sketch = partial(build_filter, kind="fixed_blocked_bloom")
blocked_bloom_jvm_sketch = partial(build_filter, kind="blocked_bloom_jvm")
grow_blocked_bloom_sketch = partial(build_filter, kind="grow_bloom")
bloom_contains_col = blocked_bloom_contains_col = \
    blocked_bloom64_contains_col = fixed_blocked_bloom_contains_col = \
    grow_blocked_bloom_contains_col = contains_col
