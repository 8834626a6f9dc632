"""Distributed build + probe for the QuotientDysect batch multimap.

Spark surface for ``kernels/dysect.QuotientMultimap`` (the reference's
quotient-dysect.hpp:134-397 Insert/Find multimap as a standalone
structure).  Build ships packed (key, value) uint64 pairs per
(input-partition, key-shard) — one binary row each, never per-pair rows
through the exchange — then one ``groupBy(shard)`` builds each shard's
CSR kernel and the driver collects ``num_shards`` blobs (the same
blob-only collect contract as every sharded filter build,
``membership._sharded_build_blobs``).  Probe broadcasts the blobs once
and answers each Arrow batch with shard-bucketed searchsorted gathers.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..kernels.dysect import QuotientMultimap
from .membership import _build_shards, _cached_probe, shard_of
from .udaf import drop_archive_finders, keys_u64, require_key_col


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
        shard), answered per shard, and scattered back — counts align
        with the input, flat values are CSR-concatenated in input
        order.
        """
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        counts = np.zeros(keys.size, dtype=np.int64)
        if not keys.size:
            return counts, np.empty(0, dtype=np.uint64)
        sh = shard_of(keys, self.num_shards)
        order = np.argsort(sh, kind="stable")
        bounds = np.searchsorted(sh[order], np.arange(self.num_shards + 1))
        vals_by_probe: list[np.ndarray | None] = [None] * self.num_shards
        for s in range(self.num_shards):
            seg = order[bounds[s]:bounds[s + 1]]
            if not seg.size:
                continue
            c, flat = self._map(s).get_many(keys[seg])
            counts[seg] = c
            vals_by_probe[s] = flat
        # scatter flat values back to input order: one pass building
        # the destination offsets of every (probe, value) pair
        cum = np.zeros(keys.size + 1, dtype=np.int64)
        np.cumsum(counts, out=cum[1:])
        flat_out = np.empty(cum[-1], dtype=np.uint64)
        for s in range(self.num_shards):
            flat = vals_by_probe[s]
            if flat is None or not flat.size:
                continue
            seg = order[bounds[s]:bounds[s + 1]]
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
        drop_archive_finders()
        ks, vs = [], []
        for b in batches:
            ks.append(keys_u64(b.column("k")))
            vs.append(keys_u64(b.column("v")))
        keys = np.concatenate(ks) if ks else np.empty(0, dtype=np.uint64)
        vals = np.concatenate(vs) if vs else np.empty(0, dtype=np.uint64)
        sh = shard_of(keys, num_shards)
        order = np.argsort(sh, kind="stable")
        bounds = np.searchsorted(sh[order], np.arange(num_shards + 1))
        shards, blobs = [], []
        for s in range(num_shards):
            seg = order[bounds[s]:bounds[s + 1]]
            if seg.size:
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
    bc = spark.sparkContext.broadcast(mm.blobs)

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def probe(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        drop_archive_finders()
        local = _cached_probe(bc, ShardedMultimap)
        for arr in it:
            counts, flat = local.get_many(keys_u64(arr))
            offsets = np.zeros(counts.size + 1, dtype=np.int32)
            np.cumsum(counts, out=offsets[1:])
            # bit-view back to int64 (values >= 2^63 must round-trip,
            # same normalization as keys_u64's int64 bit-view)
            yield pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(flat.view(np.int64)))

    return probe(F.col(col).cast("long") if isinstance(col, str) else col)


def multimap_lookup_sharded(df: DataFrame, col: str, mm: ShardedMultimap,
                            out_col: str = "mm_val") -> DataFrame:
    """Shard-partitioned batch Find — NO whole-multimap broadcast.

    The multimap is exact storage (~128 bits/pair), so a broadcast
    probe hits the same per-executor memory ceiling the sharded filter
    probe removes: at 10^10 pairs the structure is ~160 GB. This path
    is the scale form: probe rows hash-exchange on the JVM-computed
    shard id (``shard_col``, bit-exact twin of the numpy route), each
    task deserializes exactly ONE shard's CSR blob and emits the
    exploded (input row, value) pairs — the inner-join shape (keys
    with no stored values emit nothing), same multiset as
    ``F.explode(multimap_values_col(...))``.
    """
    from .membership import shard_col

    spark = df.sparkSession
    if "_shard" in df.columns:
        raise ValueError("df already has a _shard column")
    blob_df = spark.createDataFrame(
        [(s, bytearray(b)) for s, b in enumerate(mm.blobs)],
        "shard int, blob binary")
    keyed = df.withColumn("_shard", shard_col(col, mm.num_shards))
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())])
    colname = col

    def lookup_group(left: pa.Table, right: pa.Table) -> pa.Table:
        drop_archive_finders()
        left = left.drop_columns(["_shard"])
        if not left.num_rows or not right.num_rows:
            return left.slice(0, 0).append_column(
                out_col, pa.array([], pa.int64()))
        m = QuotientMultimap.from_bytes(right.column("blob")[0].as_py())
        counts, flat = m.get_many(keys_u64(left.column(colname)))
        out = left.take(np.repeat(np.arange(left.num_rows), counts))
        return out.append_column(
            out_col, pa.array(np.ascontiguousarray(flat).view(np.int64)))

    return (keyed.groupBy("_shard")
            .cogroup(blob_df.groupBy("shard"))
            .applyInArrow(lookup_group, out_schema))


def multimap_count_col(spark: SparkSession, mm: ShardedMultimap,
                       col) -> Column:
    """long Column: number of values stored under ``col`` (0 if absent)."""
    bc = spark.sparkContext.broadcast(mm.blobs)

    @F.arrow_udf(T.LongType())
    def probe(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        drop_archive_finders()
        local = _cached_probe(bc, ShardedMultimap)
        for arr in it:
            yield pa.array(local.count_many(keys_u64(arr)))

    return probe(F.col(col).cast("long") if isinstance(col, str) else col)
