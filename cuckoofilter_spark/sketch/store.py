"""Shard-blob store: file-per-shard filter persistence + store-routed probe.

The broadcast probe ships the WHOLE filter to every executor; the
cogroup probe (``membership.contains_sharded`` fallback) delivers each
shard's blob to exactly its task but exchanges every probe row. The
store probe is the scale path with no exchange at all:

- the filter is persisted once as one blob file per shard plus a
  ``manifest.json`` (kind, seed, num_shards, per-shard sha256) on a
  filesystem every executor can read — local disk in local mode, a
  shared/distributed FS (NFS, HDFS/S3 via a mount) on a cluster. The
  ``kind`` is the filter's own (``cuckoo``, ``cuckoo_jvm``,
  ``shingle``, ``tail``, ``crate``, ``xor``); a worker resolves it
  through ``membership._family`` to the family's kernel class and
  shard probe, so this module holds no per-family code;
- the probe is a plain iterator ``arrow_udf``: each Arrow batch runs
  the family's ``probe_shards`` — the shared router (the same XXH64
  route as ``shard_col``, one argsort per batch) answers each shard's
  keys against that shard's filter, loaded lazily from the store and
  LRU-cached per worker (``max_cached_shards`` bounds worker memory);
- ``colocate=True`` prepends a ``repartition`` on the shard route so
  each task touches O(1) shards — with a small cache cap this bounds
  per-task filter memory to a few shards no matter the filter size
  (the answer to a 10^10-key filter that fits no executor).

Measured with 4M probe keys (half present) against a 32-shard,
100,096-byte cuckoo filter at ``local[4]`` (4-core host), wall:
broadcast 0.79 s, store 1.14 s, cogroup 2.04 s. Distributed analogue of
the reference's batched Contain64 (cuckoo-batch-prefetch.h:109-139).
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile
from collections import OrderedDict
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from .membership import _family, shard_col

MANIFEST = "manifest.json"
_FMT_VERSION = 1


_AUTO_ROOT: str | None = None


def _auto_root() -> str:
    """This process's root of auto-written stores: one temp directory,
    made on first use and removed at interpreter exit."""
    global _AUTO_ROOT
    if _AUTO_ROOT is None:
        _AUTO_ROOT = tempfile.mkdtemp(prefix="cfspark_store_")
        atexit.register(shutil.rmtree, _AUTO_ROOT, ignore_errors=True)
    return _AUTO_ROOT


def _shard_fname(s: int) -> str:
    return f"shard_{s:05d}.blob"


class ShardBlobStore:
    """A persisted sharded filter: N blob files + a manifest.

    ``store_id`` is the sha256 over (kind, seed, num_shards, each
    shard's sha256) — pure content hash, so re-writing the same filter
    is a no-op, a different filter at the same path refuses, and the
    worker-side LRU cache can key on it across tasks safely (a rebuilt
    filter gets a new id; stale cache entries are never consulted).
    """

    def __init__(self, path: str, manifest: dict):
        self.path = path
        self.kind = manifest["kind"]
        self.seed = int(manifest["seed"])
        self.num_shards = int(manifest["num_shards"])
        self.store_id = manifest["store_id"]
        self.shard_sha = manifest["shard_sha"]

    @staticmethod
    def _content_id(kind: str, seed: int, shas: list[str]) -> str:
        h = hashlib.sha256(
            f"{_FMT_VERSION}|{kind}|{seed}|{len(shas)}|".encode())
        for s in shas:
            h.update(s.encode())
        return h.hexdigest()

    @classmethod
    def write(cls, filt, path: str | None = None) -> "ShardBlobStore":
        """Persist a Sharded* filter (driver-side; blobs are already on
        the driver). Idempotent: same content at ``path`` is kept,
        different content raises rather than silently overwriting.
        Without ``path`` the store goes to ``<root>/<store_id>`` under
        this process's ``_auto_root``, so equal filters share one store
        and none outlives the process."""
        kind, seed = filt.kind, int(filt.seed)
        shas = [hashlib.sha256(b).hexdigest() for b in filt.blobs]
        store_id = cls._content_id(kind, seed, shas)
        if path is None:
            path = os.path.join(_auto_root(), store_id)
        os.makedirs(path, exist_ok=True)
        mpath = os.path.join(path, MANIFEST)
        if os.path.exists(mpath):
            existing = json.load(open(mpath))
            if existing.get("store_id") == store_id:
                return cls(path, existing)
            raise ValueError(
                f"{path} already holds a different filter store "
                f"(store_id {existing.get('store_id')!r}); refusing to "
                "overwrite — pass a fresh path")
        for s, b in enumerate(filt.blobs):
            with open(os.path.join(path, _shard_fname(s)), "wb") as f:
                f.write(b)
        manifest = {
            "format_version": _FMT_VERSION,
            "kind": kind,
            "seed": seed,
            "num_shards": len(filt.blobs),
            "shard_sha": shas,
            "store_id": store_id,
        }
        # manifest last: its presence marks the store complete
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        return cls(path, manifest)

    @classmethod
    def open(cls, path: str) -> "ShardBlobStore":
        manifest = json.load(open(os.path.join(path, MANIFEST)))
        return cls(path, manifest)


# per-worker LRU of deserialized shard filters, shared across tasks via
# python worker reuse (same mechanism as membership._cached_probe);
# keyed by content id so a rebuilt filter never hits stale entries
_WORKER_LRU: OrderedDict = OrderedDict()


def _load_shard(path: str, store_id: str, kind: str, shard: int,
                cap: int, sha: str):
    key = (store_id, shard)
    f = _WORKER_LRU.get(key)
    if f is not None:
        _WORKER_LRU.move_to_end(key)
        return f
    blob = open(os.path.join(path, _shard_fname(shard)), "rb").read()
    got = hashlib.sha256(blob).hexdigest()
    if got != sha:
        raise IOError(
            f"shard {shard} at {path} does not match its manifest sha — "
            "the store was modified after writing")
    f = _family(kind)[1].from_bytes(blob)
    _WORKER_LRU[key] = f
    while len(_WORKER_LRU) > max(1, cap):
        _WORKER_LRU.popitem(last=False)
    return f


def contains_store(df: DataFrame, col: str, store: ShardBlobStore | str,
                   out_col: str = "member",
                   max_cached_shards: int | None = None,
                   colocate: bool = False) -> DataFrame:
    """``df`` + boolean ``out_col``: membership probed against a
    persisted shard store — no broadcast, no cogroup, broadcast-speed.

    Per Arrow batch: ONE xxhash64 route pass (identical to
    ``shard_col``), one argsort group-by-shard, one shard probe per
    shard present in the batch against the lazily-loaded, LRU-cached
    shard filter. ``max_cached_shards`` bounds each worker
    to that many deserialized shards (default: all — right whenever
    the filter fits worker memory). ``colocate=True`` repartitions the
    probe rows by shard route first, so each task sees O(1) shards and
    a small cache never thrashes — the form for filters that fit NO
    single machine: per-task memory = a few shards, period.
    """
    if isinstance(store, str):
        store = ShardBlobStore.open(store)
    from .udaf import drop_archive_finders, keys_u64

    path, store_id, kind = store.path, store.store_id, store.kind
    seed, num_shards = store.seed, store.num_shards
    shas = list(store.shard_sha)
    cap = num_shards if max_cached_shards is None else int(max_cached_shards)

    @F.arrow_udf(T.BooleanType())
    def probe(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        drop_archive_finders()
        fam = _family(kind)[0]
        for arr in it:
            yield pa.array(fam.probe_shards(
                keys_u64(arr), num_shards, seed,
                lambda s: _load_shard(path, store_id, kind, s, cap, shas[s])))

    if colocate:
        # 4x shards of partitions keeps the hash-partition balls-in-bins
        # max load low (32 shards -> 32 partitions puts 3-4 shards in
        # one task while others idle, measured as a 4x stage tail)
        df = df.repartition(4 * num_shards, shard_col(col, num_shards))
    return df.withColumn(
        out_col, probe(F.col(col).cast("long")))
