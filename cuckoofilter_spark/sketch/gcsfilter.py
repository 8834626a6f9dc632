"""Distributed GCS build — the sort-aggregation pathway (SURVEY §2.2 #26).

The reference builds its GCS by qsort-ing the fingerprint vector then
rice-encoding bucket runs (gcs.h:289-343). The Spark-first equivalent
is the declarative sort-agg plan:

    distinct keys -> (bucket, value) fingerprints (vectorized UDF)
    -> range-repartition + sort by (bucket, value)   [Catalyst sort]
    -> per bucket-group rice encode (applyInArrow)   [grouped agg]
    -> driver assembles bit stream + offsets in group order

Because rice deltas reset at every bucket boundary, each contiguous
bucket-group encodes independently and the concatenated stream is
bit-identical to a single-node encode of the whole sorted sequence —
asserted in tests against ``GcsFilter.build``.

``build_filter(kind="gcs")`` runs this plan; ``gcs_build`` is its
alias. The plan stays outside the by-key shape of the other static
builds: a key's bucket range depends on the global distinct count, so
that count must be known before any fingerprint is made.

Scale: the only full-data shuffles are the ``distinct()`` dedupe and
the range partitioning by bucket — both standard Catalyst exchanges;
the grouped encode emits one packed row per bucket-group and the
driver assembles ~num_buckets/group_size rows of a few KB.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..kernels.gcs import GcsFilter
from .membership import build_filter, contains_col
from .udaf import drop_archive_finders, keys_u64, require_key_col


def _sort_encode(df: DataFrame, col: str, log2fpp: int, log2bucket: int,
                 seed: int, buckets_per_group: int, layout: int) -> GcsFilter:
    """Build a GcsFilter with the distributed sort-encode plan: gcs's
    shape in ``membership._FAMILIES``. An ``array<int>`` column is
    exploded first, so its elements are the keys as in every other
    family."""
    if require_key_col(df, col):
        df = df.select(F.explode(col).alias(col))
    uniq = df.select(F.col(col).cast("long").alias("k")) \
             .where(F.col(col).isNotNull()).distinct()
    n = uniq.count()
    proto = GcsFilter(log2fpp, log2bucket, seed, layout=layout)
    num_buckets = proto.num_buckets_for(n)
    if n == 0:
        return proto

    def fingerprint(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_archive_finders()
        f = GcsFilter(log2fpp, log2bucket, seed, layout=layout)
        for rb in batches:
            b, v = f._fingerprints(keys_u64(rb.column("k")), n)
            yield pa.RecordBatch.from_pydict(
                {"bucket": b, "value": v.view(np.int64),
                 "grp": b // buckets_per_group})

    fps = uniq.mapInArrow(fingerprint, schema="bucket long, value long, grp long")

    def encode_group(table: pa.Table) -> pa.Table:
        drop_archive_finders()
        f = GcsFilter(log2fpp, log2bucket, seed, layout=layout)
        grp = table.column("grp")[0].as_py()
        lo = grp * buckets_per_group
        hi = min(lo + buckets_per_group, num_buckets)
        bucket = table.column("bucket").to_numpy() - lo  # group-local ids
        value = table.column("value").to_numpy().view(np.uint64)
        bits, offsets = f._encode_all(bucket, value, hi - lo)
        return pa.table({
            "grp": pa.array([grp], pa.int64()),
            "nbits": pa.array([bits.size], pa.int64()),
            "bits": pa.array([np.packbits(bits).tobytes()], pa.binary()),
            "lengths": pa.array([np.diff(offsets).astype("<i8").tobytes()],
                                pa.binary()),
        })

    rows = (fps.groupBy("grp")
            .applyInArrow(encode_group, "grp long, nbits long, bits binary, lengths binary")
            .collect())
    by_grp = {int(r["grp"]): r for r in rows}

    # driver assembly in group order. Empty groups still carry bits in
    # the v3 split layout: every bucket spends exactly m - 1 padding
    # ones even at count 0 (fixed-length unary section).
    num_groups = (num_buckets + buckets_per_group - 1) // buckets_per_group
    pad = (1 << log2bucket) - 1 if layout == 3 else 0
    all_bits, all_lengths = [], []
    for g in range(num_groups):
        lo = g * buckets_per_group
        hi = min(lo + buckets_per_group, num_buckets)
        r = by_grp.get(g)
        if r is None:
            if pad:
                all_bits.append(np.ones((hi - lo) * pad, dtype=np.uint8))
            all_lengths.append(np.full(hi - lo, pad, dtype=np.int64))
            continue
        all_bits.append(np.unpackbits(
            np.frombuffer(bytes(r["bits"]), dtype=np.uint8), count=int(r["nbits"])))
        all_lengths.append(np.frombuffer(bytes(r["lengths"]), dtype="<i8"))
    bits = (np.concatenate(all_bits) if all_bits else np.zeros(0, dtype=np.uint8))
    offsets = np.concatenate(([0], np.cumsum(np.concatenate(all_lengths))))
    proto._assemble(n, bits, offsets.astype(np.int64))
    return proto


# the one filter build and the one membership probe under this family's
# names, kept for existing callers
gcs_build = partial(build_filter, kind="gcs")
gcs_contains_col = contains_col
