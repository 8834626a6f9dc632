"""Filter builds and membership probes.

The cuckoo filter is not loss-free under arbitrary merges (unlike
Bloom), so the distributed build does NOT use the global tree shape of
the build engine (sketch/udaf.py). It uses the engine's by-key shape,
the distribution insight the reference lacks (it is single-threaded,
SURVEY.md §3.4): **shard by key**.

- ``shard_of(key) = xxhash64(key) & (num_shards - 1)`` is a pure key
  function (bit-exact between numpy and Spark's ``F.xxhash64``, so the
  route can be computed JVM-side), so both candidate buckets of a key
  live in the same shard's private table and kick chains never cross
  shards.
- Build = ONE shuffle: ``groupBy(shard).applyInArrow`` where each task
  np.unique-dedupes its keys (global dedup is free because sharding is
  by key) and bulk-inserts into a private numpy cuckoo table sized
  ``capacity / num_shards``. Output: one ``(shard, blob)`` row each.
- The assembled ``ShardedCuckooFilter`` holds the blobs; probes
  broadcast them once per executor and answer Arrow batches with pure
  numpy gathers (the reference's batched ``Contain64``
  (cuckoo-batch-prefetch.h:109-139) is subsumed by Arrow batching).

Every family is one declaration on each side (the reference's one
``FilterAPI<Table>`` adapter, benchmarks/filter-api.h:13-63), and
neither side switches on a type. Probe: the sharded families share one
class, ``_ShardedFilter``: its one router ``_by_shard`` answers each
shard with that shard's kernel, and each family only declares its
kernel class and store ``kind`` (``kinds``), whether probe keys are
first mixed with ``simple_mix_split`` (``prehashed``), and its item
count. The three deliveries read those declarations: the broadcast
probe (``contains_col``) ships the filter itself, the store
(``sketch/store.py``) and the cogroup delivery resolve a ``kind``
through ``_family``. Every other filter is one blob answered by its
own class's ``contains_many``. Build: every kind ``build_filter``
offers is one ``_Family`` row (its shape, kernel, capacity rule and
parameter defaults), and ``build_filter`` calls the row's shape with
no per-family branch; the per-family builder names are aliases of it.

At 10^12 keys: num_shards ~ a few thousand keeps each shard's keys and
table inside one task's memory; the single shuffle is the same volume a
``distinct()`` would pay, and no driver collect ever carries row data —
only num_shards blobs.

Semi/anti joins: ``approx_semi_join`` filters a fact table by an
approximate member set — the classic Bloom-join pre-filter; exactness
(no false positives) can be restored by chaining a real join on the
survivors, which is then cheap because the filter already dropped the
bulk (the reference's Contain is exactly this primitive, SURVEY §2.6).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from ..kernels.blocked_bloom import BlockedBloomFilter, \
    BlockedBloomFilter64, FixedBlockedBloomFilter, GrowBlockedBloomFilter, \
    JvmBlockedBloomFilter, _SALTS
from ..kernels.bloom import BloomFilter
from ..kernels.crate import CrateFilter
from ..kernels.cuckoo import KICK_CONST, CuckooFilter, JvmCuckooFilter
from ..kernels.gcs import GcsFilter
from ..kernels.hashing import U64, simple_mix_split, sorted_member, \
    xxhash64_long
from ..kernels.shingle import _PAD, ShingleFilter
from ..kernels.tail import TailFilter
from ..kernels.xor import XorFilter
from ..kernels.xorplus import XorFilterPlus
from .udaf import aggregate_sketch, approx_distinct_capacity, \
    folded_u64, keys_u64, require_key_col, worker_prologue

_CHUNK = 1 << 18  # all kernels chunked: sandbox DRAM bandwidth saturates fast


def shard_of(keys_u64: np.ndarray, num_shards: int) -> np.ndarray:
    """Shard route of a key — XXH64 low bits, BIT-EXACT to the JVM
    expression ``shard_col`` below (round 4: was splitmix64, which only
    Python could evaluate; xxhash64 lets the shard-partitioned probe
    compute routing in whole-stage codegen). Decorrelated from the
    fingerprint domain (simple_mix_split) by construction."""
    return (xxhash64_long(keys_u64) & U64(num_shards - 1)).astype(np.int64)


def shard_col(col, num_shards: int) -> Column:
    """JVM-side twin of ``shard_of``: F.xxhash64 over the long key,
    masked to the shard count — whole-stage codegen, no Python.
    Bit-exactness is pinned by tests/test_round4.py."""
    c = F.col(col) if isinstance(col, str) else col
    # NULL routes like key 0: keys_u64 decodes a NULL as key 0, so
    # every delivery must agree on the NULL shard — without this a
    # NULL row would hash-exchange to xxhash64(seed-only)'s shard and
    # be probed against the wrong blob
    return (F.xxhash64(F.coalesce(c.cast("long"), F.lit(0).cast("long")))
            .bitwiseAND(F.lit(num_shards - 1)).cast("int"))


def _by_shard(keys: np.ndarray, num_shards: int) -> list:
    """``(shard, positions)`` for every shard some key routes to, the
    positions in key order: one argsort plus one searchsorted. The one
    router of every per-shard loop — probes, deletes, the build's
    packing, the store probe and the multimap."""
    sh = shard_of(keys, num_shards)
    order = np.argsort(sh, kind="stable")
    bounds = np.searchsorted(sh[order], np.arange(num_shards + 1))
    return [(s, order[bounds[s]:bounds[s + 1]])
            for s in range(num_shards) if bounds[s] < bounds[s + 1]]


def _check_blob_seeds(kernel_cls, blobs: list[bytes], seed: int) -> None:
    """Shard blobs must agree with the wrapper's probe seed — the blobs
    hold PRE-HASHED content, so a mismatched seed probes a different
    hash domain and silently returns garbage. Header-peek only (no
    decode); seed 0 = unrecorded legacy blob, accepted."""
    for b in blobs:
        s = kernel_cls.peek_seed(b)
        if s and s != seed:
            raise ValueError(
                f"shard blob hashed under seed {s}, probe seed {seed}")


class _ChunkedProbe:
    """Chunk loop of the one-pass flat probes: ``_contains_chunk`` runs
    on at most ``_CHUNK`` keys at a time."""

    def contains_u64(self, keys: np.ndarray) -> np.ndarray:
        if keys.size <= _CHUNK:
            return self._contains_chunk(keys)
        out = np.empty(keys.size, dtype=bool)
        for lo in range(0, keys.size, _CHUNK):
            out[lo:lo + _CHUNK] = self._contains_chunk(keys[lo:lo + _CHUNK])
        return out


class _FlatProbe(_ChunkedProbe):
    """One-pass probe across all shards of a sharded cuckoo filter.

    The shard tables are concatenated into one array with per-shard row
    offsets, so a probe batch costs ONE hash pass + two gathers total —
    not two gathers *per shard* behind boolean masks (the round-1 path
    paid 32 masked sub-batches per Arrow batch and ran 4.5x slower than
    an unsharded probe). This is the distributed analogue of the
    reference's batched Contain64 (cuckoo-batch-prefetch.h:109-139):
    amortize per-call overhead by keeping the whole batch in flight.
    """

    def __init__(self, blobs: list[bytes], kernel_cls=CuckooFilter):
        filters = [kernel_cls.from_bytes(b) for b in blobs]
        f0 = filters[0]
        if any(f._params()[1:] != f0._params()[1:] for f in filters):
            raise ValueError("shards disagree on (bits, seed, mode, stable)")
        self.kernel_cls = kernel_cls
        self.bits, self.seed = f0.bits, f0.seed
        self.stable = f0.stable
        self.num_shards = len(filters)
        self.nb = np.array([f.num_buckets for f in filters], dtype=np.uint64)
        self.offsets = np.zeros(self.num_shards, dtype=np.int64)
        np.cumsum([f.num_buckets for f in filters[:-1]], out=self.offsets[1:])
        self.table = np.vstack([f.table for f in filters])
        self.vict_used = np.array([f.victim_used for f in filters], dtype=bool)
        self.vict_index = np.array([f.victim_index for f in filters], dtype=np.int64)
        self.vict_tag = np.array([f.victim_tag for f in filters],
                                 dtype=self.table.dtype)
        self.any_victim = bool(self.vict_used.any())
        self.tag_mask = U64((1 << self.bits) - 1)

    def _contains_chunk(self, keys: np.ndarray) -> np.ndarray:
        sh = shard_of(keys, self.num_shards)
        nb = self.nb[sh]
        h = self.kernel_cls.key_hash64(keys, self.seed)
        if self.stable:
            # cuckoofilter_stable.h:48-102 with per-key bucket counts
            i1 = ((h & U64(0xFFFFFFFF)) * nb) >> U64(32)
            tag = (h >> U64(32)) & self.tag_mask
            tag += (tag == 0)
            th = tag * U64(0xC4CEB9FE1A85EC53)
            r = ((((th & U64(0xFFFFFFFF)) * (nb >> U64(1))) >> U64(32))
                 << U64(1)) + U64(1)
            i2 = (nb - i1 - r).view(np.int64)
            neg = i2 < 0
            i2[neg] += nb[neg].view(np.int64)
            i1 = i1.view(np.int64)
        else:
            i1 = ((h >> U64(32)) & (nb - U64(1))).astype(np.int64)
            tag = h & self.tag_mask
            tag += (tag == 0)
            i2 = ((i1.view(np.uint64) ^ (tag * KICK_CONST))
                  & (nb - U64(1))).astype(np.int64)
        t = tag.astype(self.table.dtype)[:, None]
        off = self.offsets[sh]
        found = ((self.table[off + i1] == t).any(axis=1)
                 | (self.table[off + i2] == t).any(axis=1))
        if self.any_victim:
            vu = self.vict_used[sh]
            found |= (vu & (t[:, 0] == self.vict_tag[sh])
                      & ((i1 == self.vict_index[sh]) | (i2 == self.vict_index[sh])))
        return found


class _ShingleFlatProbe(_ChunkedProbe):
    """One-pass probe across shingle shards: per-shard A|B tables are
    concatenated into one flat array with per-shard offsets (same trick
    as _FlatProbe), so an Arrow batch costs one hash pass + four
    gathers."""

    def __init__(self, blobs: list[bytes], kernel_cls=ShingleFilter):
        filters = [kernel_cls.from_bytes(b) for b in blobs]
        f0 = filters[0]
        if any(f._params()[1:] != f0._params()[1:] for f in filters):
            raise ValueError("shards disagree on (slot_bits, seed)")
        self.num_shards = len(filters)
        self.fp_bits = f0.fp_bits
        self.seed = f0.seed
        self.fp_hash = f0.fp_hash
        self.m = np.array([f.m for f in filters], dtype=np.uint64)
        span = np.array([2 * (f.m + _PAD) for f in filters], dtype=np.int64)
        self.half = np.array([f.m + _PAD for f in filters], dtype=np.int64)
        self.offsets = np.zeros(self.num_shards, dtype=np.int64)
        np.cumsum(span[:-1], out=self.offsets[1:])
        self.flat = np.concatenate([f.tables.reshape(-1) for f in filters])
        # per-shard kick-overflow spill lists (kernel side list; rare)
        self.spills = [f.spill for f in filters]
        self.any_spill = any(s.size for s in self.spills)

    def _contains_chunk(self, keys: np.ndarray) -> np.ndarray:
        sh = shard_of(keys, self.num_shards)
        m = self.m[sh]
        h = simple_mix_split(keys, self.seed)
        idx = ((h >> U64(self.fp_bits)) & (m - U64(1))).astype(np.int64)
        fp = (h & U64((1 << self.fp_bits) - 1)).astype(np.uint16)
        fp = fp + (fp == 0)
        idx2 = ((idx.astype(np.uint64)
                 ^ ((self.fp_hash * fp.astype(np.uint64)) >> U64(self.fp_bits)))
                & (m - U64(1))).astype(np.int64)
        a = self.offsets[sh] + idx
        b = self.offsets[sh] + self.half[sh] + idx2
        v0 = (fp.astype(np.uint16) << 1)
        v1 = v0 | 1
        res = ((self.flat[a] == v0) | (self.flat[a + 1] == v1)
               | (self.flat[b] == v0) | (self.flat[b + 1] == v1))
        if self.any_spill:
            enc = (idx.astype(np.uint64) << U64(16)) | fp.astype(np.uint64)
            for s, sp in enumerate(self.spills):
                if not sp.size:
                    continue
                where = np.flatnonzero(sh == s)
                hit = sorted_member(sp, enc[where])
                res[where[hit]] = True
        return res


def _pack_shards(keys: np.ndarray, num_shards: int, transform=None):
    """Split a sorted-unique key array by shard: (shard_ids, packed_bytes)
    — the shared map-side packing stage of every sharded build/dedupe.
    ``transform(seg)`` maps each shard's raw keys to the shipped payload
    (e.g. simple_mix_split for pre-hashed filter domains); sharding is
    always on the RAW key so probes shard the same way."""
    shards, blobs = [], []
    for s, idx in _by_shard(keys, num_shards):
        seg = keys[idx]
        shards.append(s)
        blobs.append((transform(seg) if transform is not None
                      else seg).tobytes())
    return shards, blobs


def _sharded_partials(df: DataFrame, col: str, num_shards: int,
                      hash_seed: int | None = None) -> DataFrame:
    """First half of the by-key shape of the build engine
    (sketch/udaf.py): per input partition, fold each batch to its
    distinct keys (``folded_u64``), np.unique-dedupe them all, split by
    shard, and emit ONE row
    ``(shard int, payload binary)`` of packed uint64 payloads per
    (partition, shard) — the shuffle moves P x num_shards small blobs
    instead of per-key rows, and no Python UDF sits in the exchange.

    ``hash_seed`` set = ship ``simple_mix_split(keys, hash_seed)``
    (the pre-hashed input domain of tail/crate); sharding stays on raw
    keys so probes agree.
    """
    require_key_col(df, col)
    base = df.where(F.col(col).isNotNull()).select(F.col(col).alias("k"))
    transform = (None if hash_seed is None
                 else (lambda seg: simple_mix_split(seg, hash_seed)))

    def partial_shards(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        worker_prologue()
        parts = [folded_u64(b.column("k")) for b in batches]
        keys = np.unique(np.concatenate(parts) if parts
                         else np.empty(0, dtype=np.uint64))
        shards, blobs = _pack_shards(keys, num_shards, transform)
        yield pa.RecordBatch.from_pydict(
            {"shard": pa.array(shards, pa.int32()),
             "payload": pa.array(blobs, pa.binary())})

    return base.mapInArrow(partial_shards, schema="shard int, payload binary")


def _build_shards(packed: DataFrame, num_shards: int, make_shard,
                  dedupe: bool = True) -> list[bytes]:
    """Second half of the by-key shape: one groupBy(shard) over the
    ``(shard, payload)`` partials builds each shard's blob
    (``make_shard(keys) -> bytes``) and the driver collects num_shards
    blobs; a shard no key routes to gets ``make_shard`` of zero keys.
    ``dedupe`` re-dedupes raw keys reduce-side (cross-partition
    duplicates); pre-hashed payloads keep the kernel's own duplicate
    handling."""
    def build_shard(table: pa.Table) -> pa.Table:
        worker_prologue()
        keys = np.concatenate([np.frombuffer(b, dtype=np.uint64)
                               for b in table.column("payload").to_pylist()])
        if dedupe:
            keys = np.unique(keys)
        return pa.table({"shard": table.column("shard").slice(0, 1),
                         "blob": pa.array([make_shard(keys)], pa.binary())})

    rows = (packed.groupBy("shard")
            .applyInArrow(build_shard, "shard int, blob binary")
            .collect())
    blob_by_shard = {r["shard"]: bytes(r["blob"]) for r in rows}
    empty = (make_shard(np.empty(0, dtype=np.uint64))
             if len(blob_by_shard) < num_shards else None)
    return [blob_by_shard.get(s, empty) for s in range(num_shards)]


def _sharded_build_blobs(df: DataFrame, col: str, num_shards: int,
                         make_shard, hash_seed: int | None = None) -> list[bytes]:
    """The by-key shape of the build engine, shared by every sharded
    build (cuckoo, xor, shingle, tail, crate) and by
    ``distinct_keys_u64``: ``_sharded_partials`` then ``_build_shards``
    (``plans/checkpoint.py`` runs the two halves with a Parquet
    checkpoint between them)."""
    return _build_shards(_sharded_partials(df, col, num_shards, hash_seed),
                         num_shards, make_shard, dedupe=hash_seed is None)


def _rebuild(cls, blobs: list[bytes], params: dict):
    return cls(blobs, **params)


class _ShardedFilter:
    """num_shards independent kernel filters addressed by ``shard_of``.

    A family declares five things and inherits the rest:

    - ``kinds``: store kind name -> kernel class, the first the default
      (a family with two kernels takes ``kernel_cls``);
    - ``keeps``: the build parameters the object records, passed by
      keyword (cuckoo's ``bits``, shingle's ``slot_bits``);
    - ``prehashed``: the shards hold ``simple_mix_split(key, seed)``
      (the pre-hashed input domain of tail/crate), so probes mix raw
      keys first — routing stays on the raw key;
    - ``count``: the kernel attribute holding its item count;
    - ``flat_probe`` (optional): a one-pass probe over all shards, used
      as ``contains_u64`` instead of the per-shard router.

    Pickling ships only ``(class, blobs, params)`` — never decoded
    tables or a store handle.
    """

    kinds: dict = {}
    keeps: tuple = ()
    prehashed = False
    count = "num_items"
    flat_probe = None

    def __init__(self, blobs: list[bytes], seed: int, kernel_cls=None,
                 **kept):
        self.num_shards = len(blobs)
        if self.num_shards & (self.num_shards - 1):
            raise ValueError("num_shards must be a power of two")
        self.kernel_cls = kernel_cls or next(iter(self.kinds.values()))
        self.kind = next((k for k, c in self.kinds.items()
                          if c is self.kernel_cls), None)
        if self.kind is None:
            raise ValueError(f"{type(self).__name__} has no kind for "
                             f"kernel {self.kernel_cls.__name__}")
        if set(self.keeps) ^ kept.keys():
            raise TypeError(f"{type(self).__name__} keeps {self.keeps}; "
                            f"got {sorted(kept)}")
        self.__dict__.update(kept)
        self.seed = seed
        self.blobs = blobs
        if self.prehashed:
            _check_blob_seeds(self.kernel_cls, blobs, seed)
        self._filters: list = [None] * self.num_shards
        self._flat = None

    def _args(self) -> dict:
        """Constructor arguments besides ``blobs``."""
        return {"seed": self.seed, "kernel_cls": self.kernel_cls,
                **{k: getattr(self, k) for k in self.keeps}}

    def __reduce__(self):
        return _rebuild, (type(self), self.blobs, self._args())

    def _filter(self, s: int):
        if self._filters[s] is None:
            self._filters[s] = self.kernel_cls.from_bytes(self.blobs[s])
        return self._filters[s]

    @classmethod
    def shard_probe(cls, kernel, keys: np.ndarray, seed: int) -> np.ndarray:
        """Answer raw keys against one shard's decoded kernel."""
        return kernel.contains_many(
            simple_mix_split(keys, seed) if cls.prehashed else keys)

    @classmethod
    def probe_shards(cls, keys: np.ndarray, num_shards: int, seed: int,
                     kernel_of) -> np.ndarray:
        """Answer raw keys shard by shard, ``kernel_of(s)`` giving shard
        ``s``'s decoded kernel — this object's blobs, or a store's
        files."""
        out = np.zeros(keys.size, dtype=bool)
        for s, idx in _by_shard(keys, num_shards):
            out[idx] = cls.shard_probe(kernel_of(s), keys[idx], seed)
        return out

    def contains_u64(self, keys: np.ndarray) -> np.ndarray:
        if self.flat_probe is None:
            return self.probe_shards(keys, self.num_shards, self.seed,
                                     self._filter)
        if self._flat is None:
            self._flat = self.flat_probe(self.blobs, self.kernel_cls)
        return self._flat.contains_u64(keys)

    def delete_u64(self, keys: np.ndarray) -> np.ndarray:
        """Bulk Delete across shards (cuckoofilter.h:206-238,
        shingle.h:201-207).

        Caller must guarantee presence (reference README.md:21) —
        deleting a never-added key can erase a colliding fingerprint.
        Returns a bool array (True where a tag was removed) and
        refreshes the serialized blobs so subsequent broadcasts see the
        deletion (anti-join maintenance, SURVEY §2.1 #6).
        """
        if not hasattr(self.kernel_cls, "delete_many"):
            raise TypeError(f"{self.kind} filters do not support delete")
        out = np.zeros(keys.size, dtype=bool)
        for s, idx in _by_shard(keys, self.num_shards):
            f = self._filter(s)
            out[idx] = f.delete_many(keys[idx])
            self.blobs[s] = f.to_bytes()
        self._flat = None  # probe structure is stale after a delete
        self._auto_store = None  # so is any auto-written blob store
        return out

    def num_items(self) -> int:
        return sum(getattr(self._filter(s), self.count)
                   for s in range(self.num_shards))

    def size_in_bytes(self) -> int:
        return sum(len(b) for b in self.blobs)

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(1, self.num_items())

    def expected_fpp(self) -> float:
        return sum(self._filter(s).expected_fpp()
                   for s in range(self.num_shards)) / max(1, self.num_shards)


def _family(kind: str):
    """``(sharded class, kernel class)`` a store ``kind`` names, read off
    the families' ``kinds`` declarations."""
    for cls in _ShardedFilter.__subclasses__():
        if kind in cls.kinds:
            return cls, cls.kinds[kind]
    raise ValueError(f"no sharded filter family for kind {kind!r}")


class ShardedCuckooFilter(_ShardedFilter):
    """num_shards independent cuckoo filters addressed by a key hash."""

    kinds = {"cuckoo": CuckooFilter, "cuckoo_jvm": JvmCuckooFilter}
    keeps = ("bits",)
    flat_probe = _FlatProbe

    def load_factor(self) -> float:
        tags = sum(self._filter(s).size_in_tags() for s in range(self.num_shards))
        return self.num_items() / max(1, tags)

    def expected_fpp(self) -> float:
        return 2.0 * 4 / (1 << self.bits)

    def info(self) -> dict:
        return {
            "num_shards": self.num_shards,
            "num_items": self.num_items(),
            "size_in_bytes": self.size_in_bytes(),
            "bits_per_item": self.bits_per_item(),
            "load_factor": self.load_factor(),
            "expected_fpp": self.expected_fpp(),
        }


class ShardedXorFilter(_ShardedFilter):
    """num_shards independent xor filters addressed by a key hash.

    The scale form of the static xor build: the peel
    (xorfilter.h:122-279) is sequential *per filter*, but nothing says
    there must be one filter — sharding by key gives each shard an
    independent peel that runs INSIDE its groupBy(shard) task, so the
    driver never materializes the key set (the ``xor_build`` driver
    peel collects every distinct key; at 10^10+ distinct grams neither
    the collect nor a single-machine peel survives). Space is unchanged
    (1.23n cells per shard sums to 1.23n) and probes stay 3 gathers —
    routed to the owning shard's fingerprint array.

    Per-shard peels retry independently (seed + attempt recorded in
    each blob header), so shards may settle on different attempts; a
    probe always uses the blob's own recorded hasher.
    """

    kinds = {"xor": XorFilter}
    count = "size"


# -- Shingle (overlapping-bucket cuckoo, shingle.h) -------------------------
class ShardedShingleFilter(_ShardedFilter):
    """num_shards independent shingle filters addressed by a key hash —
    the same shard-by-key distribution as ShardedCuckooFilter (both of
    a key's overlapping buckets live in one shard's private tables, so
    kick chains never cross shards)."""

    kinds = {"shingle": ShingleFilter}
    keeps = ("slot_bits",)
    count = "filled"
    flat_probe = _ShingleFlatProbe

    def expected_fpp(self) -> float:
        return 4.0 / (1 << self.slot_bits)


# -- Tail filter (adaptive-epsilon growing AMQ, tail-filter.hpp) ------------
class ShardedTailFilter(_ShardedFilter):
    """num_shards independent tail filters addressed by a key hash.

    The tail filter needs NO capacity estimate (tail-filter.hpp:119-124
    upsizes itself as ndv crosses powers of two), so the build refuses
    a capacity and runs no approx_count_distinct pre-pass — each shard
    just grows.
    Shards upsize independently; the probe keeps per-shard filters
    (epochs differ, so a flat one-pass table is not applicable)."""

    kinds = {"tail": TailFilter}
    prehashed = True
    count = "ndv"

    def expected_fpp(self) -> float:
        """Structure-derived bound: sum over pairs of 2^-(key_bits +
        significant tail bits) plus the graduated-key mass — exact for
        the stored content, unlike the design epsilon (FPR grows one
        ~2^-(tb+1) term per upsize past 2^lgm)."""
        total = 0.0
        for f in map(self._filter, range(self.num_shards)):
            if f.pairs.size:
                t = f.pairs & np.uint64((1 << (f.tb + 1)) - 1)
                lb = t & (~t + np.uint64(1))
                sent = np.log2(lb.astype(np.float64))
                sig = f.tb - sent
                total += float((2.0 ** -(f.key_bits + sig)).sum())
            if f.bitset is not None and f.bitset.size:
                total += float(f.bitset.sum()) / f.bitset.size
        return total / max(1, self.num_shards)


# -- Crate / pocket dictionaries (crate.h, arXiv:1911.05060) ----------------
class ShardedCrateFilter(_ShardedFilter):
    """num_shards independent crate filters addressed by a key hash;
    each shard's spare dict stays private to its bucket range."""

    kinds = {"crate": CrateFilter}
    prehashed = True
    count = "ndv"


# -- build: one declaration per filter family -------------------------------
#
# The build twin of the probe declarations above: every kind
# ``build_filter`` offers is one ``_Family`` row of ``_FAMILIES``, and
# ``build_filter`` resolves the row and calls its shape — no per-family
# branch. A shape is one way the engine (sketch/udaf.py) builds:
#
# - ``_tree``: ``aggregate_sketch`` over the kernel made for
#   ``capacity`` keys — the OR-mergeable Bloom kinds;
# - ``_by_key``: ``_sharded_build_blobs``, one kernel per key shard
#   made from all of its keys, wrapped in the ``_ShardedFilter`` class
#   whose ``kinds`` hold the kernel (a ``prehashed`` class's shards are
#   fed ``simple_mix_split(key, seed)``);
# - ``_driver``: one kernel over ``distinct_keys_u64`` on the driver —
#   the builds that are sequential by nature (the xor peel, growing
#   Bloom levels);
# - ``_gcs``: gcs's own sort-encode plan (sketch/gcsfilter.py). It
#   cannot run by key: its bucket ranges depend on the global distinct
#   count, which must be known before any fingerprint is made.


def _create(kernel, size: int, **params):
    """Empty kernel of the kinds with a ``create(max_num_keys)``."""
    return kernel.create(size, **params)


def _unsized(kernel, size, **params):
    """Empty kernel of the kinds that grow themselves (tail, grow_bloom)."""
    return kernel(**params)


def _shards(params: dict) -> None:
    """Eager check of every kind: a by-key kind's ``num_shards`` is a
    positive power of two, since ``shard_of`` routes a key by the low
    bits of its hash."""
    n = params.get("num_shards", 1)
    if n < 1 or n & (n - 1):
        raise ValueError(
            f"num_shards must be a positive power of two (got {n})")


class _Family(NamedTuple):
    """How ``build_filter`` builds one kind.

    - ``shape``: the engine call, ``shape(df, col, family, capacity,
      params)``;
    - ``kernel``: the kernel class;
    - ``capacity``: the capacity rule, ``rule(df, col, kind, capacity,
      params) -> capacity``;
    - ``params``: the kind's parameters with their defaults — the
      keywords ``build_filter`` takes for it besides ``capacity`` and
      ``seed``;
    - ``new``: the empty kernel, ``new(kernel, size, **params)``, keys
      then added to it; None for a static kernel, built from its whole
      key set by ``kernel.build(keys, **params)``;
    - ``check``: the eager check of the parameters, run before any
      Spark job (``_shards`` unless the kind adds its own).
    """

    shape: Callable
    kernel: type
    capacity: Callable
    params: dict
    new: Callable | None = _create
    check: Callable = _shards


def _sized(headroom: float = 1.15, slack: int = 64):
    """Capacity rule of the kinds sized from ``capacity`` (a tree kernel's
    size, the by-key shards' floor): an omitted capacity is one
    ``approx_count_distinct`` pre-pass times ``headroom``, plus
    ``slack``."""
    def rule(df, col, kind, capacity, params):
        return (approx_distinct_capacity(df, col, headroom, slack)
                if capacity is None else int(capacity))

    return rule


def _refused(df, col, kind, capacity, params):
    """Capacity rule of the kinds sized from the data itself: the static
    builds (xor, xor_sharded, xorplus, gcs) and the self-growing tail
    filter."""
    if capacity is not None:  # refuse rather than silently drop
        raise ValueError(
            f"{kind!r} filters are sized from the data; capacity is not "
            f"a parameter (got {capacity})")


def _mapped(name: str):
    """Capacity rule of a kind whose ``capacity`` is the default of its
    parameter ``name`` (grow_bloom's starting level)."""
    def rule(df, col, kind, capacity, params):
        if capacity is not None:
            params.setdefault(name, int(capacity))

    return rule


def _holding(fam: _Family, keys: np.ndarray, size: int, params: dict):
    """A ``fam`` kernel holding ``keys``: built from them if static, else
    made empty for ``size`` keys and added to."""
    if fam.new is None:
        return fam.kernel.build(keys, **params)
    kern = fam.new(fam.kernel, size, **params)
    kern.add_many(keys)
    return kern


def _tree(df: DataFrame, col: str, fam: _Family, capacity: int,
          params: dict):
    kernel, new = fam.kernel, fam.new
    return aggregate_sketch(df, col, lambda: new(kernel, capacity, **params),
                            kernel)


def _shard_maker(fam: _Family, capacity: int | None, params: dict):
    """``make_shard`` of the by-key shape, with the one shard-sizing
    rule: each shard's kernel is made for ``capacity / num_shards`` keys
    (at least 64), and never for fewer than the shard's own; a kind
    without a capacity gets the shard's key count."""
    params = dict(params)
    num_shards = params.pop("num_shards")
    shard_cap = None if capacity is None else max(64, capacity // num_shards)

    def make_shard(keys: np.ndarray) -> bytes:
        size = keys.size if shard_cap is None else max(shard_cap, keys.size)
        return _holding(fam, keys, size, params).to_bytes()

    return make_shard


def _by_key(df: DataFrame, col: str, fam: _Family, capacity: int | None,
            params: dict):
    cls = next(c for c in _ShardedFilter.__subclasses__()
               if fam.kernel in c.kinds.values())
    seed = params["seed"]
    blobs = _sharded_build_blobs(df, col, params["num_shards"],
                                 _shard_maker(fam, capacity, params),
                                 hash_seed=seed if cls.prehashed else None)
    return cls(blobs, seed, fam.kernel, **{k: params[k] for k in cls.keeps})


def _driver(df: DataFrame, col: str, fam: _Family, capacity: int | None,
            params: dict):
    return _holding(fam, distinct_keys_u64(df, col), capacity, params)


def _gcs(df: DataFrame, col: str, fam: _Family, capacity, params: dict):
    from .gcsfilter import _sort_encode

    return _sort_encode(df, col, **params)


def _jvm_bits(params: dict) -> None:
    _shards(params)
    if params["bits"] > 16:
        raise ValueError("JVM probe packs tags into 64-bit words; "
                         "bits must be <= 16")


_CUCKOO = {"bits": 12, "num_shards": 32}
_BLOCKED = {"bits_per_key": None}

# reference-suite order
_FAMILIES = {
    "cuckoo": _Family(_by_key, CuckooFilter, _sized(),
                      {**_CUCKOO, "mode": "single", "stable": False}),
    # JVM-probeable variants (round 5): same structures, xxhash64 key
    # hash — probe via the zero-Python joins below, or through
    # contains_col (Arrow blob path, identical answers)
    "cuckoo_jvm": _Family(_by_key, JvmCuckooFilter, _sized(), _CUCKOO,
                          check=_jvm_bits),
    "blocked_bloom_jvm": _Family(_tree, JvmBlockedBloomFilter, _sized(),
                                 _BLOCKED),
    "cuckoo_semisort": _Family(_by_key, CuckooFilter, _sized(),
                               {**_CUCKOO, "bits": 13},
                               partial(_create, mode="semisort")),
    "cuckoo_stable": _Family(_by_key, CuckooFilter, _sized(), _CUCKOO,
                             partial(_create, stable=True)),
    "bloom": _Family(_tree, BloomFilter, _sized(), {"bits_per_item": 10}),
    "blocked_bloom": _Family(_tree, BlockedBloomFilter, _sized(), _BLOCKED),
    "blocked_bloom64": _Family(_tree, BlockedBloomFilter64, _sized(),
                               _BLOCKED),
    "fixed_blocked_bloom": _Family(_tree, FixedBlockedBloomFilter, _sized(),
                                   {"bits_per_key": 12}),
    "grow_bloom": _Family(_driver, GrowBlockedBloomFilter,
                          _mapped("initial_capacity"),
                          {"initial_capacity": 1024}, _unsized),
    "xor": _Family(_driver, XorFilter, _refused, {"fp_bits": 8}, None),
    "xor_sharded": _Family(_by_key, XorFilter, _refused,
                           {"fp_bits": 8, "num_shards": 32}, None),
    "xorplus": _Family(_driver, XorFilterPlus, _refused, {"fp_bits": 8},
                       None),
    "gcs": _Family(_gcs, GcsFilter, _refused,
                   {"log2fpp": 10, "log2bucket": 4,
                    "buckets_per_group": 4096, "layout": 3}),
    "shingle": _Family(_by_key, ShingleFilter, _sized(),
                       {"slot_bits": 12, "num_shards": 8}),
    "tail": _Family(_by_key, TailFilter, _refused,
                    {"epsilon": 2.0 ** -16, "lgm": 10, "num_shards": 8},
                    _unsized),
    # no headroom or slack: the reference sizes crate buckets at the
    # exact add_count for its 44/51 fill target (crate.h:429-436); an
    # approx_count_distinct under-estimate is absorbed by the shard
    # floor's max(), and an over-estimate would lower fill and inflate
    # bits/item past the published operating point
    "crate": _Family(_by_key, CrateFilter, _sized(headroom=1.0, slack=0),
                     {"num_shards": 8},
                     lambda kernel, size, **params: kernel(size, **params)),
}


def filter_families() -> tuple:
    """The buildable family names, reference-suite order."""
    return tuple(_FAMILIES)


def build_filter(df: DataFrame, col: str, kind: str = "cuckoo",
                 capacity: int | None = None, seed: int = 0x5EED,
                 **params):
    """Build any filter family over an integer (or array<int>) key
    column — the FilterAPI construct/add leg. Returns the family's
    filter object: pass it to ``contains_col`` for probing;
    family-specific surfaces (delete, info, to_bytes) stay available on
    the object itself.

    ``params`` are the kind's own (``_FAMILIES``). ``capacity`` follows
    the kind's rule: the Bloom kinds size their kernel from it and the
    by-key kinds (cuckoo*, shingle, crate) each shard, and both run one
    ``approx_count_distinct`` pre-pass when it is omitted (x 1.15 + 64;
    crate takes the bare estimate). grow_bloom starts its first level
    at it. xor, xor_sharded, xorplus, gcs and tail are sized from the
    data and refuse it. Callers at scale should pass the known
    cardinality — the reference's add_count.
    """
    try:
        fam = _FAMILIES[kind]
    except KeyError:
        raise ValueError(
            f"unknown filter kind {kind!r}; one of {sorted(_FAMILIES)}")
    unknown = sorted(params.keys() - fam.params.keys())
    if unknown:
        raise TypeError(f"{kind!r} filters take no parameter {unknown}; "
                        f"theirs are {sorted(fam.params)}")
    fam.check({**fam.params, **params})
    capacity = fam.capacity(df, col, kind, capacity, params)
    return fam.shape(df, col, fam, capacity,
                     {**fam.params, **params, "seed": seed})


# per-family names of the one build, kept for existing callers
cuckoo_build = partial(build_filter, kind="cuckoo")
cuckoo_jvm_build = partial(build_filter, kind="cuckoo_jvm")
xor_build = partial(build_filter, kind="xor")
xor_build_sharded = partial(build_filter, kind="xor_sharded")
xorplus_build = partial(build_filter, kind="xorplus")
shingle_build = partial(build_filter, kind="shingle")
tail_build = partial(build_filter, kind="tail")
crate_build = partial(build_filter, kind="crate")


# Worker-process cache of deserialized probe structures, keyed by the
# broadcast id: Python workers are reused across tasks, so the flat
# table is built once per (worker, filter) instead of once per task.
_PROBE_CACHE: dict[int, object] = {}
_PROBE_CACHE_MAX = 8


def _cached_probe(bc, build):
    # executor-side Broadcast carries its spill path — a stable identity.
    # Without it (e.g. spark.io.encryption delivers broadcasts over a
    # socket) there is no safe cheap key: id() is reused after GC and
    # could silently serve another filter's table, so skip caching.
    key = getattr(bc, "_path", None)
    if key is None:
        return build(bc.value)
    obj = _PROBE_CACHE.get(key)
    if obj is None:
        obj = build(bc.value)
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
        _PROBE_CACHE[key] = obj
    return obj


def _broadcast_probe_col(spark: SparkSession, payload, load, col,
                         rettype=None) -> Column:
    """Column answering each key batch with ``load(payload)(keys)`` —
    the ONE broadcast probe shape. The payload is broadcast once; each
    worker runs ``load`` once per filter, cached across tasks by
    ``_cached_probe``, instead of decoding the blob on every task.
    ``load`` is pickled with the UDF: a module-level function, or a
    lambda over module-level names."""
    bc = spark.sparkContext.broadcast(payload)
    rettype = T.BooleanType() if rettype is None else rettype

    @F.arrow_udf(rettype)
    def probe(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        worker_prologue()
        fn = _cached_probe(bc, load)
        for arr in it:
            yield pa.array(fn(keys_u64(arr)))

    return probe(F.col(col).cast("long") if isinstance(col, str) else col)


def _blob_method_col(spark: SparkSession, obj, col, cls,
                     method: str = "contains_many",
                     rettype=None) -> Column:
    """Column applying ``cls.from_bytes(blob).<method>`` to a key batch
    — the broadcast probe of every single-blob kernel (membership
    booleans, CMS/CQF counts)."""
    return _broadcast_probe_col(
        spark, obj.to_bytes(), lambda b: getattr(cls.from_bytes(b), method),
        col, rettype)


def contains_col(spark: SparkSession, filt, col) -> Column:
    """Boolean Column: approximate membership of ``col`` in any filter
    ``build_filter`` returns — the FilterAPI Contain leg.

    A sharded filter is itself the broadcast payload (it pickles as its
    blobs and parameters); each worker decodes it once, cached across
    tasks, and answers each Arrow batch with ``contains_u64`` — for
    cuckoo and shingle one hash pass plus a few gathers over one flat
    table (no per-row Python, no per-shard sub-batches). Any other
    filter is one blob answered by its exact class's ``contains_many``.
    """
    if isinstance(filt, _ShardedFilter):
        return _broadcast_probe_col(spark, filt, lambda f: f.contains_u64,
                                    col)
    if hasattr(filt, "contains_many"):
        return _blob_method_col(spark, filt, col, type(filt))
    raise TypeError(f"no probe registered for {type(filt).__name__}")


# per-family names of the one probe, kept for existing callers
cuckoo_contains_col = shingle_contains_col = tail_contains_col = \
    crate_contains_col = xor_contains_col = xorplus_contains_col = contains_col


def approx_semi_join(
    spark: SparkSession, fact: DataFrame, fact_col: str, filt: ShardedCuckooFilter
) -> DataFrame:
    """``fact`` rows whose key is (approximately) in the filter.

    No false negatives; false positives at the filter's epsilon. The
    distributed analogue of ``df.filter(cf_contains(key))`` — a
    build-once broadcast pre-filter that replaces a full shuffle join.
    """
    return fact.where(contains_col(spark, filt, fact_col))


def cuckoo_delete(filt: ShardedCuckooFilter, df: DataFrame, col: str) -> int:
    """Delete a DataFrame's distinct keys from a sharded filter.

    The key set is deduped distributively (packed per-partition uniques)
    and the per-shard tag removal runs driver-side on the blobs — the
    filter is driver-held state, exactly like the build's collect step.
    Returns the number of tags removed.
    """
    keys = distinct_keys_u64(df, col)
    return int(filt.delete_u64(keys).sum())


def distinct_keys_u64(df: DataFrame, col: str, num_shards: int = 64) -> np.ndarray:
    """Distributed distinct of an integer or array<int> column -> driver.

    The by-key build with each shard's sorted unique keys as its blob,
    so driver memory is bounded by the KEY UNIVERSE (vocab), not
    partitions x vocab: shards are disjoint by construction, so the
    driver receives exactly the distinct key set — the same contract as
    a broadcast-join build side. Returned sorted.
    """
    blobs = _sharded_build_blobs(df, col, num_shards, lambda keys: keys.tobytes())
    return np.sort(np.concatenate(
        [np.frombuffer(b, dtype=np.uint64) for b in blobs]))


# -- shard-partitioned probe (no whole-filter broadcast) ---------------------
#
# The broadcast probe (_FlatProbe and friends) ships EVERY shard's table
# to EVERY executor — correct whenever the filter fits the broadcast
# budget, but at 12.6 bits/key a 10^10-key filter is ~15 GB per
# executor. The shard-partitioned probe is the scale-safe complement:
# repartition probe rows by shard_of(key) and have each task
# deserialize ONLY its shard's blob, delivered as a DataFrame row
# through the same exchange (a cogroup — the build-side-partitioned
# join). Per-task memory = one shard's table + that shard's probe rows;
# both shrink as num_shards grows. This is the distributed answer to
# the reference's batched probe (cuckoo-batch-prefetch.h:109-139): the
# batch there hides DRAM latency, the shard route here hides the
# broadcast ceiling.
#
# Both deliveries hand the worker the filter's store ``kind``, a string;
# the worker resolves it through ``_family`` to the family's shard probe
# and kernel class (no class or bound method rides in the payload).


def contains_sharded(df: DataFrame, col: str, filt,
                     out_col: str = "member",
                     store: str | None = None,
                     max_cached_shards: int | None = None,
                     colocate: bool = False) -> DataFrame:
    """``df`` + boolean ``out_col``: membership of ``col``, probed
    shard-partitioned — NO whole-filter broadcast anywhere.

    Two deliveries, picked by what the executors can read:

    - **store** (default in local mode, or whenever ``store`` names a
      path all executors can read): the filter is persisted once as
      one blob file per shard (``sketch.store.ShardBlobStore``) and the
      probe is a plain iterator arrow_udf that lazily loads + LRU
      caches only the shards its batches touch. Zero exchanges;
      ``max_cached_shards`` bounds per-worker filter memory
      and ``colocate=True`` repartitions probe rows by shard route so
      each task touches O(1) shards — the form for filters that fit no
      single machine.
    - **cogroup** (fallback when there is no shared filesystem): blobs
      travel as DataFrame rows through a cogroup on the shard id; each
      task deserializes exactly its shard's blob. Correct on any
      cluster, but the exchange moves every probe row.

    Measured with 4M probe keys (half present) against a 32-shard,
    100,096-byte cuckoo filter at ``local[4]`` (4-core host), wall:
    broadcast ``contains_col`` 0.79 s, store 1.14 s, cogroup 2.04 s.

    Every sharded family works (store kinds cuckoo, cuckoo_jvm,
    shingle, tail, crate, xor); answers are bit-identical across the
    broadcast, store and cogroup paths. Without ``store`` the store
    is written once per filter content under a per-process temp root
    that is removed at interpreter exit (``ShardBlobStore.write``).
    """
    if not isinstance(filt, _ShardedFilter):
        raise TypeError(
            f"no shard-partitioned probe for {type(filt).__name__}")
    is_local = df.sparkSession.sparkContext.master.startswith("local")
    if store is not None or is_local:
        from .store import ShardBlobStore, contains_store

        st = getattr(filt, "_auto_store", None)
        if store is not None:
            st = ShardBlobStore.write(filt, store)
        elif st is None:
            # mutation paths invalidate _auto_store (delete_u64), so a
            # cached store is trusted — re-hashing every blob per probe
            # call would cost seconds on the multi-GB filters this
            # path exists for
            st = ShardBlobStore.write(filt)  # this process's auto store
            filt._auto_store = st
        return contains_store(df, col, st, out_col=out_col,
                              max_cached_shards=max_cached_shards,
                              colocate=colocate)
    if max_cached_shards is not None or colocate:
        raise ValueError(
            "max_cached_shards/colocate bound per-worker memory only on "
            "the store delivery; pass store=<shared-FS path> (the "
            "cogroup fallback ignores both knobs)")
    return _contains_sharded_cogroup(df, col, filt, out_col)


def _cogroup_by_shard(df: DataFrame, col: str, blobs: list[bytes],
                      out_field: T.StructField, answer) -> DataFrame:
    """Cogroup delivery shared by the sharded filters and the multimap:
    one hash exchange on the JVM-computed shard id joins each probe
    group with exactly its shard's blob row, and the task answers its
    rows with ``answer(rows, keys, blob)`` -> rows + ``out_field``
    (``blob`` is None for a group without probe rows, so no blob is
    decoded for it). No broadcast, no shared-FS requirement."""
    if "_shard" in df.columns:
        raise ValueError("df already has a _shard column")
    blob_df = df.sparkSession.createDataFrame(
        [(s, bytearray(b)) for s, b in enumerate(blobs)],
        "shard int, blob binary")
    # shard id is pure JVM arithmetic (shard_col == shard_of bit-exact),
    # so the only Python crossing in the whole plan is the cogroup probe;
    # the caller's columns pass through as Arrow, exact whatever their type
    keyed = df.withColumn("_shard", shard_col(col, len(blobs)))
    out_schema = T.StructType(list(df.schema.fields) + [out_field])

    def probe_group(left: pa.Table, right: pa.Table) -> pa.Table:
        worker_prologue()
        rows = left.drop_columns(["_shard"])
        blob = (right.column("blob")[0].as_py()
                if left.num_rows and right.num_rows else None)
        return answer(rows, keys_u64(rows.column(col)), blob)

    return (keyed.groupBy("_shard")
            .cogroup(blob_df.groupBy("shard"))
            .applyInArrow(probe_group, out_schema))


def _contains_sharded_cogroup(df: DataFrame, col: str, filt,
                              out_col: str = "member") -> DataFrame:
    """Cogroup delivery of ``contains_sharded``: each task deserializes
    ONE shard blob and answers its rows with the family's shard probe —
    the universal (slower) sharded probe."""
    kind, seed = filt.kind, filt.seed

    def answer(rows: pa.Table, keys: np.ndarray, blob) -> pa.Table:
        if blob is None:
            hit = np.zeros(keys.size, dtype=bool)
        else:
            fam, kernel_cls = _family(kind)
            hit = fam.shard_probe(kernel_cls.from_bytes(blob), keys, seed)
        return rows.append_column(out_col, pa.array(hit, pa.bool_()))

    return _cogroup_by_shard(df, col, filt.blobs,
                             T.StructField(out_col, T.BooleanType()), answer)


def approx_anti_join(
    spark: SparkSession, fact: DataFrame, fact_col: str, filt: ShardedCuckooFilter
) -> DataFrame:
    """``fact`` rows whose key is definitely NOT in the filter.

    Complement caveat: drops epsilon false positives (rows wrongly
    believed present) — standard Bloom-anti-join semantics.
    """
    return fact.where(~contains_col(spark, filt, fact_col))


# -- JVM-native blocked-Bloom probe (zero Python in the probe path) ---------
#
# The Arrow pipe floor bounds EVERY Python-side probe: at local[32] a
# constant-true pandas_udf filter over 40M longs costs ~0.82 s (~49 M
# rows/s), and a mapInArrow pass-through measures the same — the cost is
# the JVM<->Python Arrow crossing plus scheduling, not pandas (measured
# round 5, BASELINE.md). JvmBlockedBloomFilter steps around the floor:
# its hash is Spark's own xxhash64 (kernels/hashing.xxhash64_long is the
# bit-exact numpy twin — the shard_of/shard_col contract), so Contain
# (simd-block.h:197-206) compiles to whole-stage-codegen integer
# arithmetic plus ONE broadcast hash join against the bucket table AS
# DATA. The probe plan has no Python stage at all; at 100 TB it is a
# map-side broadcast join running at JVM scan speed, and the broadcast
# payload is the filter itself (the family's existing contract — the
# blob broadcast the Python probes ship is the same bytes).
#
# ANSI-safe MakeMask (simd-block.h:158-172): the reference's per-lane
# 32-bit wrapping multiply (h32 * salt) mod 2^32 cannot be written as a
# single BIGINT multiply under ANSI (h32, salt < 2^32 makes the product
# overflow signed int64), so it is decomposed into 16-bit limbs — every
# intermediate stays under 2^49:
#   h32 = a + b*2^16  (a, b < 2^16)
#   (h32*s) mod 2^32 = (a*s + ((b*s mod 2^16) << 16)) mod 2^32

_BB_JVM_COLS = ("_bb_bucket", "_bb_h",
                "_bb_n0", "_bb_n1", "_bb_n2", "_bb_n3",
                "_bb_w0", "_bb_w1", "_bb_w2", "_bb_w3")


def blocked_bloom_jvm_bucket_df(spark: SparkSession, filt) -> DataFrame:
    """The filter's bucket directory as a DataFrame: one row per
    256-bit bucket, the 8 uint32 lanes packed pairwise into four
    64-bit words (lane 2j = low half, LE). This is the broadcast side
    of the JVM probe join — same bytes the Python probe ships as a
    blob, reshaped into a relation Catalyst can join.

    Memoized per (session, n_added): the driver-side local->Spark
    conversion costs ~0.5 s at 32k buckets, which would otherwise be
    paid on every probe call (measured 27 -> 83 M probes/s)."""
    cached = getattr(filt, "_jvm_bucket_df", None)
    if cached is not None and cached[0] is spark and cached[1] == filt.n_added:
        return cached[2]
    nb = filt.num_buckets
    words = (filt.buckets.reshape(-1).view(np.uint64)
             .reshape(nb, 4).view(np.int64))
    cols = {"_bb_bucket": np.arange(nb, dtype=np.int64)}
    for j in range(4):
        cols[f"_bb_w{j}"] = np.ascontiguousarray(words[:, j])
    bdf = spark.createDataFrame(pa.table(cols))
    filt._jvm_bucket_df = (spark, filt.n_added, bdf)
    return bdf


def _bb_jvm_project(filt, df: DataFrame, col: str) -> DataFrame:
    """Probe-side projection: bucket id + the four 64-bit *need* words
    (the per-key MakeMask, lane pairs packed like the bucket words).
    Chained selects keep ``_bb_h`` a materialized column: CollapseProject
    refuses to inline a non-cheap alias referenced 16x, so xxhash64 runs
    ONCE per row (the md5-inlining trap from the gram pipelines applies
    to any helper that re-references its argument expression)."""
    key = F.col(col).cast("long")
    seed = filt.seed if filt.seed < 1 << 63 else filt.seed - (1 << 64)
    # NULL keys route to bucket 0 so the inner join keeps the row; the
    # predicate's isNotNull() term forces their flag to false
    h = F.xxhash64(F.coalesce(key, F.lit(0).cast("long"))
                   .bitwiseXOR(F.lit(seed)))
    out = df.select("*", h.alias("_bb_h"))
    hh = F.col("_bb_h")
    a = hh.bitwiseAND(F.lit(0xFFFF))
    b = F.shiftrightunsigned(hh, 16).bitwiseAND(F.lit(0xFFFF))

    def bit(s: int) -> Column:
        # ANSI-safe 16-bit-limb form of (h32 * s) mod 2^32, then >> 27
        lo16 = (b * F.lit(s)).bitwiseAND(F.lit(0xFFFF))
        prod = ((a * F.lit(s) + F.shiftleft(lo16, 16))
                .bitwiseAND(F.lit(0xFFFFFFFF)))
        return F.shiftright(prod, 27)

    one = F.lit(1).cast("long")
    needs = [
        (F.call_function("shiftleft", one, bit(int(_SALTS[2 * j])))
         .bitwiseOR(F.call_function(
             "shiftleft", one, bit(int(_SALTS[2 * j + 1])) + F.lit(32))))
        .alias(f"_bb_n{j}")
        for j in range(4)
    ]
    bucket = (F.shiftrightunsigned(hh, 32)
              .bitwiseAND(F.lit(filt.num_buckets - 1)).alias("_bb_bucket"))
    return out.select("*", bucket, *needs)


def _bb_jvm_join(spark: SparkSession, filt, df: DataFrame,
                 col: str) -> tuple[DataFrame, Column]:
    if not isinstance(filt, JvmBlockedBloomFilter):
        raise TypeError(
            "JVM probe requires JvmBlockedBloomFilter (its hash is the "
            "Spark-expressible one); got " + type(filt).__name__)
    if require_key_col(df, col):  # eager driver-side refusal, not a
        raise TypeError(          # mid-job executor CAST error
            f"column {col!r} is an array; the JVM probe takes scalar keys")
    have = {c.lower() for c in df.columns}
    clash = [c for c in _BB_JVM_COLS if c in have]
    if clash:  # Spark resolution is case-insensitive (CLAUDE.md trap)
        raise ValueError(f"input columns collide with probe internals: {clash}")
    bdf = blocked_bloom_jvm_bucket_df(spark, filt)
    joined = _bb_jvm_project(filt, df, col).join(F.broadcast(bdf), "_bb_bucket")
    pred = F.col(col).isNotNull()
    for j in range(4):
        n = F.col(f"_bb_n{j}")
        pred = pred & (F.col(f"_bb_w{j}").bitwiseAND(n) == n)
    return joined, pred


def blocked_bloom_jvm_filter(spark: SparkSession, filt, df: DataFrame,
                             col: str) -> DataFrame:
    """``df`` rows whose ``col`` is a (probable) member — the Bloom
    semi-join, entirely JVM-side (NULL keys never match). Plan shape:
    one BroadcastHashJoin + codegen filter; no Python stage, no shuffle
    (pinned by tests/test_round5.py)."""
    joined, pred = _bb_jvm_join(spark, filt, df, col)
    return joined.where(pred).drop(*_BB_JVM_COLS)


def blocked_bloom_jvm_flag(spark: SparkSession, filt, df: DataFrame,
                           col: str, flag: str = "is_member") -> DataFrame:
    """``df`` plus a boolean membership flag column (false for NULL
    keys), entirely JVM-side."""
    have = {c.lower() for c in df.columns}
    if flag.lower() in have:
        raise ValueError(f"flag column {flag!r} already present")
    joined, pred = _bb_jvm_join(spark, filt, df, col)
    return joined.withColumn(flag, pred).drop(*_BB_JVM_COLS)


# -- JVM-native cuckoo probe (zero Python in the probe path) ----------------
#
# Same motivation as the blocked-Bloom JVM probe above, for the flagship
# family: JvmCuckooFilter's hash is Spark's xxhash64, so Contain
# (cuckoofilter.h:184-204) compiles to codegen arithmetic — tag =
# TagHash(h) with the 0-remap, i1 from the high word — plus ONE
# broadcast LEFT SEMI join against a MIRROR table: every stored tag t
# at bucket b is listed under BOTH b and AltIndex(b, t) (the involution
# makes ``t in table[i2]`` equivalent to a mirror entry at i1, so the
# probe never computes i2), and the victim entry becomes two ordinary
# mirror rows. The mirror key packs (shard, bucket) into one long —
# a composite key would force Spark's generic UnsafeHashedRelation
# (measured 3.3 s vs 0.74 s for 40M lookups against 524k entries);
# the single-long key gets LongHashedRelation. Tags are nonzero by the
# 0-remap, so zero-padding in the packed words can never match.

_CF_JVM_COLS = ("_cf_shard", "_cf_h", "_cf_tag", "_cf_i1", "_cf_sb",
                "_cf_mask", "_cf_w")


def _cf_jvm_tables(spark: SparkSession, filt: ShardedCuckooFilter):
    """(meta_df, mirror_df) for the JVM probe, memoized per session.

    meta: one row per shard — the bucket mask (shards may round to
    different power-of-two sizes). mirror: rows (_cf_sb, _cf_w) where
    _cf_sb = shard<<32 | bucket and _cf_w packs up to 63//bits stored
    tags LSB-first; cells with more entries span extra rows (the semi
    join makes row multiplicity harmless). Driver cost is the same
    bytes the Python probe broadcasts."""
    cached = getattr(filt, "_jvm_dfs", None)
    if cached is not None and cached[0] is spark:
        return cached[1], cached[2]
    if filt.kernel_cls is not JvmCuckooFilter:
        raise TypeError(
            "JVM probe requires a cuckoo_jvm_build filter (xxhash64 key "
            "hash); got kernel " + filt.kernel_cls.__name__)
    slots = 63 // filt.bits

    def _pack_shard(sb: np.ndarray, ts: np.ndarray):
        """Pack a shard's sorted (sb, tag) pairs into <=slots-tag words
        (one (sb, word) row per run chunk)."""
        starts = np.empty(sb.size, dtype=bool)
        starts[0] = True
        np.not_equal(sb[1:], sb[:-1], out=starts[1:])
        run_id = np.cumsum(starts) - 1
        first = np.flatnonzero(starts)
        rank = np.arange(sb.size) - first[run_id]
        word_of = rank // slots
        slot_of = (rank % slots).astype(np.uint64)
        vals = ts << (np.uint64(filt.bits) * slot_of)
        wstart = np.empty(sb.size, dtype=bool)
        wstart[0] = True
        np.logical_or(starts[1:], word_of[1:] != word_of[:-1],
                      out=wstart[1:])
        ws = np.flatnonzero(wstart)
        return sb[ws], np.bitwise_or.reduceat(vals, ws)

    # packed PER SHARD (shards own disjoint sb ranges, so per-shard
    # sorted outputs concatenate into a valid global table): peak
    # driver memory = one shard's entry arrays + the packed outputs,
    # not 2x the whole mirror (measured ~2 GB -> ~0.6 GB at 10M keys)
    metas, row_parts, word_parts = [], [], []
    for s in range(filt.num_shards):
        f = filt._filter(s)
        if f.stable or f.mode != "single" or f.bits > 16:
            raise ValueError("JVM probe supports single-table, "
                             "non-stable shards with bits <= 16")
        metas.append((s, f.num_buckets - 1))
        bi, sl = np.nonzero(f.table)
        tags = f.table[bi, sl]
        if f.victim_used:
            bi = np.append(bi, f.victim_index)
            tags = np.append(tags, f.table.dtype.type(f.victim_tag))
        if not bi.size:
            continue
        alt = f.alt_index(bi, tags)
        cells = np.concatenate([bi, alt]).astype(np.int64)
        ts = np.concatenate([tags, tags]).astype(np.uint64)
        sb = (np.int64(s) << np.int64(32)) | cells
        # dedupe (cell, tag) pairs (self-loop alts, duplicate tags in a
        # bucket) — fewer rows, same answer set; unique also sorts
        pair = (sb.astype(np.uint64) << np.uint64(16)) | ts
        pair = np.unique(pair)
        rows, words = _pack_shard((pair >> np.uint64(16)).view(np.int64),
                                  pair & np.uint64(0xFFFF))
        row_parts.append(rows)
        word_parts.append(words)
    meta = np.array(metas, dtype=np.int64).reshape(-1, 2)
    meta_df = spark.createDataFrame(pa.table(
        {"_cf_shard": meta[:, 0], "_cf_mask": meta[:, 1]}))
    # pyarrow Table, not pandas: no full-copy of the mirror arrays
    word_rows = (np.concatenate(row_parts) if row_parts
                 else np.empty(0, dtype=np.int64))
    words = (np.concatenate(word_parts) if word_parts
             else np.empty(0, dtype=np.uint64))
    mirror_df = spark.createDataFrame(pa.table({
        "_cf_sb": word_rows, "_cf_w": words.view(np.int64)}))
    filt._jvm_dfs = (spark, meta_df, mirror_df)
    return meta_df, mirror_df


def _cf_jvm_probe_side(spark: SparkSession, filt: ShardedCuckooFilter,
                       df: DataFrame, col: str) -> DataFrame:
    """Probe-side projection + tiny meta join: shard, materialized h,
    TagHash, i1, and the packed long join key _cf_sb."""
    if require_key_col(df, col):
        raise TypeError(f"column {col!r} is an array; the JVM probe "
                        "takes scalar keys")
    have = {c.lower() for c in df.columns}
    clash = [c for c in _CF_JVM_COLS if c in have]
    if clash:  # Spark resolution is case-insensitive (CLAUDE.md trap)
        raise ValueError(f"input columns collide with probe internals: {clash}")
    meta_df, _ = _cf_jvm_tables(spark, filt)
    key = F.col(col).cast("long")
    seed_c = filt.kernel_cls.seed_xor_const(filt.seed)
    seed_c = seed_c if seed_c < 1 << 63 else seed_c - (1 << 64)
    h = F.xxhash64(F.coalesce(key, F.lit(0).cast("long"))
                   .bitwiseXOR(F.lit(seed_c)))
    tag_mask = (1 << filt.bits) - 1
    # chained selects: aliases are referenced repeatedly below and
    # CollapseProject would otherwise inline the xxhash64 subtree into
    # every use (the md5-inlining trap)
    out = (df
           .select("*", shard_col(col, filt.num_shards).alias("_cf_shard"),
                   h.alias("_cf_h"))
           .join(F.broadcast(meta_df), "_cf_shard"))
    t_raw = F.col("_cf_h").bitwiseAND(F.lit(tag_mask))
    tag = F.when(t_raw == 0, F.lit(1)).otherwise(t_raw)  # TagHash 0-remap
    out = out.select(
        "*", tag.alias("_cf_tag"),
        (F.shiftrightunsigned(F.col("_cf_h"), 32)
         .bitwiseAND(F.col("_cf_mask"))).alias("_cf_i1"))
    sb = (F.shiftleft(F.col("_cf_shard").cast("long"), 32)
          .bitwiseOR(F.col("_cf_i1")))
    return out.select("*", sb.alias("_cf_sb"))


def _cf_jvm_match_cond(filt) -> Column:
    """Semi-join condition: key equality + tag among the word's slots."""
    tag_mask = (1 << filt.bits) - 1
    cond = F.col("_cf_sb") == F.col("_cf_msb")
    hit = F.lit(False)
    for j in range(63 // filt.bits):
        slot = (F.shiftrightunsigned(F.col("_cf_w"), filt.bits * j)
                .bitwiseAND(F.lit(tag_mask)))
        hit = hit | (slot == F.col("_cf_tag"))
    return cond & hit


def _cf_jvm_mirror(spark, filt) -> DataFrame:
    _, mirror_df = _cf_jvm_tables(spark, filt)
    return mirror_df.select(F.col("_cf_sb").alias("_cf_msb"),
                            F.col("_cf_w"))


def cuckoo_jvm_filter(spark: SparkSession, filt: ShardedCuckooFilter,
                      df: DataFrame, col: str) -> DataFrame:
    """``df`` rows whose ``col`` is a (probable) member — the cuckoo
    semi-join, entirely JVM-side (NULL keys never match). Plan: one
    tiny broadcast meta join + ONE broadcast LEFT SEMI join against the
    mirror table (LongHashedRelation key), codegen everywhere, no
    Python stage, no shuffle (pinned in tests/test_round5.py)."""
    probe = (_cf_jvm_probe_side(spark, filt, df, col)
             .where(F.col(col).isNotNull()))
    out = probe.join(F.broadcast(_cf_jvm_mirror(spark, filt)),
                     _cf_jvm_match_cond(filt), "left_semi")
    return out.drop(*_CF_JVM_COLS)


def cuckoo_jvm_flag(spark: SparkSession, filt: ShardedCuckooFilter,
                    df: DataFrame, col: str,
                    flag: str = "is_member") -> DataFrame:
    """``df`` plus a boolean membership flag (false for NULL keys),
    entirely JVM-side: semi-join rows flag true, anti-join rows and
    NULL keys flag false."""
    have = {c.lower() for c in df.columns}
    if flag.lower() in have:
        raise ValueError(f"flag column {flag!r} already present")
    probe = _cf_jvm_probe_side(spark, filt, df, col)
    nn = probe.where(F.col(col).isNotNull())
    mirror = F.broadcast(_cf_jvm_mirror(spark, filt))
    cond = _cf_jvm_match_cond(filt)
    yes = (nn.join(mirror, cond, "left_semi")
           .drop(*_CF_JVM_COLS).withColumn(flag, F.lit(True)))
    no = (nn.join(mirror, cond, "left_anti")
          .drop(*_CF_JVM_COLS).withColumn(flag, F.lit(False)))
    nulls = (probe.where(F.col(col).isNull())
             .drop(*_CF_JVM_COLS).withColumn(flag, F.lit(False)))
    return yes.unionAll(no).unionAll(nulls)
