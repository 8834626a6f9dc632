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
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..kernels.dysect import QuotientMultimap
from .membership import _cached_probe, shard_of
from .udaf import drop_archive_finders, keys_to_u64, require_key_col


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
    ``groupBy(shard)`` builds each shard inside its task.
    """
    if num_shards & (num_shards - 1) or num_shards <= 0:
        raise ValueError("num_shards must be a power of two")
    if require_key_col(df, key_col) or require_key_col(df, val_col):
        raise TypeError("multimap_build takes scalar integer key/value "
                        "columns (explode array columns first)")
    base = (df.select(F.col(key_col).alias("k"), F.col(val_col).alias("v"))
            .where(F.col(key_col).isNotNull() & F.col(val_col).isNotNull()))

    def partial_shards(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_archive_finders()
        ks, vs = [], []
        for pdf in batches:
            ks.append(keys_to_u64(pdf["k"]))
            vs.append(keys_to_u64(pdf["v"]))
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
        yield pd.DataFrame({"shard": pd.Series(shards, dtype="int32"),
                            "pairs": blobs})

    packed = base.mapInPandas(partial_shards, schema="shard int, pairs binary")

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_archive_finders()
        inter = np.concatenate(
            [np.frombuffer(b, dtype=np.uint64) for b in pdf["pairs"]])
        mm = QuotientMultimap.from_pairs(inter[0::2], inter[1::2])
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "blob": [mm.to_bytes()]})

    rows = (packed.groupBy("shard")
            .applyInPandas(build_shard, "shard int, blob binary")
            .collect())
    blob_by_shard = {r["shard"]: bytes(r["blob"]) for r in rows}
    empty = QuotientMultimap.empty().to_bytes()
    return ShardedMultimap(
        [blob_by_shard.get(s, empty) for s in range(num_shards)])


def multimap_values_col(spark: SparkSession, mm: ShardedMultimap,
                        col) -> Column:
    """array<long> Column: every value stored under ``col`` (batch
    Find).  Empty array for absent keys — ``F.explode`` then yields no
    row, the inner-join shape.  Values arrive ascending (the canonical
    Find order, see kernels/dysect.py)."""
    bc = spark.sparkContext.broadcast(mm.blobs)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_archive_finders()
        local = _cached_probe(bc, ShardedMultimap)
        for s in it:
            if not len(s):
                yield pd.Series([], dtype=object)
                continue
            counts, flat = local.get_many(keys_to_u64(s))
            # bit-view back to int64 (values >= 2^63 must round-trip,
            # same normalization as keys_to_u64's int64 bit-view)
            parts = np.split(np.ascontiguousarray(flat).view(np.int64),
                             np.cumsum(counts)[:-1])
            yield pd.Series(parts)

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

    def lookup_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        drop_archive_finders()
        left = left.drop(columns=["_shard"])
        if not len(left) or not len(right):
            out = left.iloc[0:0].copy()
            out[out_col] = pd.Series([], dtype="int64")
            return out
        m = QuotientMultimap.from_bytes(bytes(right["blob"].iloc[0]))
        counts, flat = m.get_many(keys_to_u64(left[colname]))
        out = left.iloc[np.repeat(np.arange(len(left)), counts)]
        out = out.reset_index(drop=True)
        out[out_col] = pd.Series(np.ascontiguousarray(flat).view(np.int64))
        return out

    return (keyed.groupBy("_shard")
            .cogroup(blob_df.groupBy("shard"))
            .applyInPandas(lookup_group, out_schema))


def multimap_count_col(spark: SparkSession, mm: ShardedMultimap,
                       col) -> Column:
    """long Column: number of values stored under ``col`` (0 if absent)."""
    bc = spark.sparkContext.broadcast(mm.blobs)

    @F.pandas_udf(T.LongType())
    def probe(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_archive_finders()
        local = _cached_probe(bc, ShardedMultimap)
        for s in it:
            yield pd.Series(local.count_many(keys_to_u64(s)))

    return probe(F.col(col).cast("long") if isinstance(col, str) else col)
