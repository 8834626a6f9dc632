"""Distributed build + probe for the QuotientDysect batch multimap.

Spark surface for ``kernels/dysect.QuotientMultimap`` (the reference's
quotient-dysect.hpp:134-397 Insert/Find multimap as a standalone
structure).  Build ships packed (key, value) uint64 pairs per
(input-partition, key-shard) — one binary row each, never per-pair rows
through the exchange — then one ``groupBy(shard)`` builds each shard's
CSR kernel and the driver collects ``num_shards`` blobs (the same
blob-only collect contract as every sharded filter build,
``membership._sharded_build_blobs``).  Probes run on the sharded
filters' scaffold: the broadcast probe (``membership._broadcast_probe_col``)
answers each Arrow batch with shard-bucketed searchsorted gathers routed
by ``membership._by_shard``, and the shard-partitioned lookup is the
filters' cogroup delivery (``membership._cogroup_by_shard``).
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..kernels.dysect import QuotientMultimap
from .membership import _broadcast_probe_col, _build_shards, _by_shard, \
    _cogroup_by_shard
from .udaf import keys_u64, require_key_col, worker_prologue


class ShardedMultimap:
    """num_shards disjoint multimaps addressed by ``shard_of(key)``."""

    def __init__(self, blobs: list[bytes]):
        self.num_shards = len(blobs)
        if self.num_shards & (self.num_shards - 1):
            raise ValueError("num_shards must be a power of two")
        self.blobs = blobs
        self._maps: list[QuotientMultimap | None] = [None] * self.num_shards

    def _map(self, s: int) -> QuotientMultimap:
        if self._maps[s] is None:
            self._maps[s] = QuotientMultimap.from_bytes(self.blobs[s])
        return self._maps[s]

    def get_many(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batch Find across shards, results in probe order.

        Probes are bucketed by shard (each key lives in exactly one
        shard, routed by ``_by_shard``), answered per shard, and
        scattered back — counts align with the input, flat values are
        CSR-concatenated in input order.
        """
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        counts = np.zeros(keys.size, dtype=np.int64)
        if not keys.size:
            return counts, np.empty(0, dtype=np.uint64)
        found = []
        for s, seg in _by_shard(keys, self.num_shards):
            c, flat = self._map(s).get_many(keys[seg])
            counts[seg] = c
            found.append((seg, flat))
        # scatter flat values back to input order: one pass building
        # the destination offsets of every (probe, value) pair
        cum = np.zeros(keys.size + 1, dtype=np.int64)
        np.cumsum(counts, out=cum[1:])
        flat_out = np.empty(cum[-1], dtype=np.uint64)
        for seg, flat in found:
            if not flat.size:
                continue
            lens = counts[seg]
            tot = int(lens.sum())
            scum = np.zeros(seg.size, dtype=np.int64)
            np.cumsum(lens[:-1], out=scum[1:])
            idx = np.arange(tot, dtype=np.int64) + np.repeat(
                cum[seg] - scum, lens)
            flat_out[idx] = flat
        return counts, flat_out

    def count_many(self, keys: np.ndarray) -> np.ndarray:
        return self.get_many(keys)[0]

    def _values_list(self, keys: np.ndarray) -> pa.ListArray:
        """``get_many`` as one Arrow list per probe key."""
        counts, flat = self.get_many(keys)
        offsets = np.zeros(counts.size + 1, dtype=np.int32)
        np.cumsum(counts, out=offsets[1:])
        # bit-view back to int64 (values >= 2^63 must round-trip, same
        # normalization as keys_u64's int64 bit-view)
        return pa.ListArray.from_arrays(pa.array(offsets),
                                        pa.array(flat.view(np.int64)))

    def num_items(self) -> int:
        return sum(self._map(s).num_items() for s in range(self.num_shards))

    def size_in_bytes(self) -> int:
        return sum(len(b) for b in self.blobs)


def multimap_build(df: DataFrame, key_col: str, val_col: str,
                   num_shards: int = 16) -> ShardedMultimap:
    """Distributed bulk Insert: one multimap over (key_col, val_col).

    Duplicate (key, value) pairs are kept (reference Insert appends,
    quotient-dysect.hpp:134-227).  Map side packs each partition's
    pairs per key-shard into ONE interleaved-uint64 binary row — the
    shuffle moves P x num_shards blobs, not pairs — and
    ``groupBy(shard)`` builds each shard inside its task (the by-key
    scaffold's second half, ``membership._build_shards``).
    """
    if num_shards & (num_shards - 1) or num_shards <= 0:
        raise ValueError("num_shards must be a power of two")
    if require_key_col(df, key_col) or require_key_col(df, val_col):
        raise TypeError("multimap_build takes scalar integer key/value "
                        "columns (explode array columns first)")
    base = (df.select(F.col(key_col).alias("k"), F.col(val_col).alias("v"))
            .where(F.col(key_col).isNotNull() & F.col(val_col).isNotNull()))

    def partial_shards(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        worker_prologue()
        ks, vs = [], []
        for b in batches:
            ks.append(keys_u64(b.column("k")))
            vs.append(keys_u64(b.column("v")))
        keys = np.concatenate(ks) if ks else np.empty(0, dtype=np.uint64)
        vals = np.concatenate(vs) if vs else np.empty(0, dtype=np.uint64)
        shards, blobs = [], []
        for s, seg in _by_shard(keys, num_shards):
            inter = np.empty(2 * seg.size, dtype=np.uint64)
            inter[0::2], inter[1::2] = keys[seg], vals[seg]
            shards.append(s)
            blobs.append(inter.tobytes())
        yield pa.RecordBatch.from_pydict(
            {"shard": pa.array(shards, pa.int32()),
             "payload": pa.array(blobs, pa.binary())})

    def make_shard(inter: np.ndarray) -> bytes:
        return QuotientMultimap.from_pairs(inter[0::2], inter[1::2]).to_bytes()

    packed = base.mapInArrow(partial_shards, schema="shard int, payload binary")
    return ShardedMultimap(
        _build_shards(packed, num_shards, make_shard, dedupe=False))


def multimap_values_col(spark: SparkSession, mm: ShardedMultimap,
                        col) -> Column:
    """array<long> Column: every value stored under ``col`` (batch
    Find).  Empty array for absent keys — ``F.explode`` then yields no
    row, the inner-join shape.  Values arrive ascending (the canonical
    Find order, see kernels/dysect.py)."""
    return _broadcast_probe_col(
        spark, mm.blobs, lambda b: ShardedMultimap(b)._values_list, col,
        T.ArrayType(T.LongType()))


def multimap_lookup_sharded(df: DataFrame, col: str, mm: ShardedMultimap,
                            out_col: str = "mm_val") -> DataFrame:
    """Shard-partitioned batch Find — NO whole-multimap broadcast.

    The multimap is exact storage (~128 bits/pair), so a broadcast
    probe hits the same per-executor memory ceiling the sharded filter
    probe removes: at 10^10 pairs the structure is ~160 GB. This path
    is the scale form: the filters' cogroup delivery
    (``membership._cogroup_by_shard``) hash-exchanges probe rows on the
    JVM-computed shard id, each task deserializes exactly ONE shard's
    CSR blob and emits the exploded (input row, value) pairs — the
    inner-join shape (keys with no stored values emit nothing), same
    multiset as ``F.explode(multimap_values_col(...))``.
    """
    def answer(rows: pa.Table, keys: np.ndarray, blob) -> pa.Table:
        if blob is None:
            counts, flat = np.zeros(keys.size, np.int64), np.empty(0, np.uint64)
        else:
            counts, flat = QuotientMultimap.from_bytes(blob).get_many(keys)
        return (rows.take(np.repeat(np.arange(rows.num_rows), counts))
                .append_column(out_col, pa.array(
                    np.ascontiguousarray(flat).view(np.int64))))

    return _cogroup_by_shard(df, col, mm.blobs,
                             T.StructField(out_col, T.LongType()), answer)


def multimap_count_col(spark: SparkSession, mm: ShardedMultimap,
                       col) -> Column:
    """long Column: number of values stored under ``col`` (0 if absent)."""
    return _broadcast_probe_col(
        spark, mm.blobs, lambda b: ShardedMultimap(b).count_many, col,
        T.LongType())
