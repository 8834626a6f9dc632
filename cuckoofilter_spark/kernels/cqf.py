"""Counting quotient filter kernel (batch/static form) — gqf.h semantics.

The reference's CQF (gqf.h:1-331, gqf.c; Pandey et al. SIGMOD'17 "A
general-purpose counting filter") is a multiset sketch:

- ``qf_insert(key, count)`` (gqf.h:137-144), ``qf_count_key_value``
  (gqf.h:197-201), ``qf_remove`` / ``qf_delete_key_value``
  (gqf.h:154-166), iterators (gqf.h:243-291), and **lossless merge**
  ``qf_merge`` / ``qf_multi_merge`` (gqf.h:305-310, impl
  gqf.c:2428-2475 by iterate-and-reinsert, refusing mismatched
  seed/hash mode at gqf.c:2434-2440).

This kernel re-expresses the same API in the batch idiom the Spark
engine needs (every distributed build is a bulk build; per-key
incremental insertion with rank-select shifting buys nothing when the
whole input is available per Arrow batch):

- a key hashes to a ``(q + r)``-bit fingerprint; quotient = high q
  bits, remainder = low r bits (the quotienting split of gqf.c);
- state = the sorted unique fingerprint multiset, stored quotiented:
  occupied quotients (sorted), per-run offsets, bit-packed remainders,
  and per-slot counts — the same information content as the
  occupieds/runends layout, navigated with searchsorted instead of
  rank/select bitvectors (numpy's native log-time primitive);
- ``add_many(keys, counts)`` folds a batch in (sort + reduceat — no
  per-key shifting); ``count_many`` answers point counts;
  ``delete_many`` subtracts counts and drops zeros; ``merge`` unions
  fingerprint multisets with summed counts — bit-exact associative AND
  commutative (stronger than the cuckoo's canonical merge);
- collisions: two keys sharing a full (q+r)-bit fingerprint alias
  their counts (overestimate) — the same guarantee as the reference at
  equal fingerprint width; p ~ n^2 / 2^(q+r+1).

Space: r bits + count per stored fingerprint + q-bit structure
amortized over runs — the quotienting saving the reference gets, minus
its bit-level rank/select machinery (documented divergence: our counts
are plain int64, the reference embeds small counts in slots).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import U64, simple_mix_split

_MAGIC = b"CQF1"
_FMT = "<4sHBBQQQ"
_HDR_SIZE = struct.calcsize(_FMT)  # magic ver q r seed n_slots_used total

_CHUNK = 1 << 18


class CountingQuotientFilter:
    # the build engine (sketch/udaf.add_batch) feeds a list batch as its
    # distinct keys plus counts: the folded multiset is the same
    feed = "counts"

    def __init__(self, q: int = 20, r: int = 28, seed: int = 0x5EED):
        if q + r > 63:
            raise ValueError("q + r must be <= 63")
        self.q = int(q)
        self.r = int(r)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.fingerprints = np.empty(0, dtype=np.uint64)  # sorted unique
        self.counts = np.empty(0, dtype=np.int64)
        self.total = 0

    # -- hashing ----------------------------------------------------------
    def _fingerprint(self, keys) -> np.ndarray:
        h = simple_mix_split(np.asarray(keys, dtype=np.uint64), self.seed)
        return h >> U64(64 - (self.q + self.r))

    # -- updates ----------------------------------------------------------
    def add_many(self, keys, counts=None) -> None:
        """qf_insert(key, count) in bulk (gqf.h:137-144)."""
        keys = np.asarray(keys, dtype=np.uint64)
        if counts is None:
            counts = np.ones(keys.size, dtype=np.int64)
        else:
            counts = np.asarray(counts, dtype=np.int64)
        for lo in range(0, keys.size, _CHUNK):
            self._fold(self._fingerprint(keys[lo:lo + _CHUNK]),
                       counts[lo:lo + _CHUNK])

    def _fold(self, fps: np.ndarray, counts: np.ndarray) -> None:
        f = np.concatenate([self.fingerprints, fps])
        c = np.concatenate([self.counts, counts])
        order = np.argsort(f, kind="stable")
        f, c = f[order], c[order]
        first = np.empty(f.size, dtype=bool)
        if f.size:
            first[0] = True
            np.not_equal(f[1:], f[:-1], out=first[1:])
        starts = np.flatnonzero(first)
        summed = np.add.reduceat(c, starts) if starts.size else np.empty(0, np.int64)
        keep = summed != 0
        self.fingerprints = f[starts][keep]
        self.counts = summed[keep]
        self.total = int(self.counts.sum())

    def delete_many(self, keys, counts=None) -> None:
        """qf_remove / qf_delete_key_value (gqf.h:154-166): subtract
        counts; entries reaching zero are removed. Caller guarantees
        presence (over-deletion clamps at zero, matching qf semantics of
        removing at most the stored count)."""
        keys = np.asarray(keys, dtype=np.uint64)
        if counts is None:
            counts = np.ones(keys.size, dtype=np.int64)
        else:
            counts = np.asarray(counts, dtype=np.int64)
        if keys.size == 0 or self.fingerprints.size == 0:
            return
        fps = self._fingerprint(keys)
        # aggregate the request per fingerprint FIRST: duplicate keys in
        # one batch must clamp against the stored count jointly (row-wise
        # clamping would let [2, 2] remove 4 of a stored 3)
        order = np.argsort(fps, kind="stable")
        f, c = fps[order], counts[order]
        starts = np.flatnonzero(np.concatenate(([True], f[1:] != f[:-1])))
        uf = f[starts]
        uc = np.add.reduceat(c, starts)
        # clamp: cannot remove more than stored
        pos = np.searchsorted(self.fingerprints, uf)
        valid = (pos < self.fingerprints.size) & \
            (self.fingerprints[np.minimum(pos, self.fingerprints.size - 1)] == uf)
        stored = np.zeros(uf.size, dtype=np.int64)
        stored[valid] = self.counts[pos[valid]]
        dec = np.minimum(uc, stored)
        self._fold(uf[valid], -dec[valid])

    # -- queries ----------------------------------------------------------
    def count_many(self, keys) -> np.ndarray:
        """qf_count_key_value in bulk (gqf.h:197-201)."""
        fps = self._fingerprint(np.asarray(keys, dtype=np.uint64))
        out = np.zeros(fps.size, dtype=np.int64)
        if self.fingerprints.size == 0:  # empty filter: everything absent
            return out
        pos = np.searchsorted(self.fingerprints, fps)
        valid = (pos < self.fingerprints.size) & \
            (self.fingerprints[np.minimum(pos, self.fingerprints.size - 1)] == fps)
        out[valid] = self.counts[pos[valid]]
        return out

    def contains_many(self, keys) -> np.ndarray:
        return self.count_many(keys) > 0

    def items(self) -> tuple[np.ndarray, np.ndarray]:
        """Iterator surface (gqf.h:243-291): (fingerprint, count) pairs
        in sorted order — the lossless content enumeration qf_merge uses."""
        return self.fingerprints.copy(), self.counts.copy()

    def resize(self, new_q: int) -> None:
        """qf_resize (gqf.h:103-127): grow the slot space by moving bits
        from remainder to quotient. The reference physically re-shards
        its rank/select slot layout; our storage keeps FULL
        (q+r)-bit fingerprints, so the total fingerprint width — and
        therefore the content and collision rate — is unchanged and the
        resize is a relabeling of the quotient split (it changes only
        the quotiented space accounting). Mirrors the reference's
        invariant that resize preserves every (fingerprint, count)."""
        if new_q < self.q:
            raise ValueError("qf_resize only grows (gqf.h:103-127)")
        total = self.q + self.r
        if new_q >= total:
            raise ValueError("new_q must leave at least one remainder bit")
        self.q, self.r = int(new_q), int(total - new_q)

    # -- merge ------------------------------------------------------------
    def _params(self) -> tuple:
        return (self.q, self.r, self.seed)

    @classmethod
    def merge(cls, a: "CountingQuotientFilter", b: "CountingQuotientFilter"
              ) -> "CountingQuotientFilter":
        """qf_merge (gqf.c:2428-2475): union multisets with summed
        counts; refuses mismatched params (gqf.c:2434-2440). Bit-exact
        associative and commutative."""
        if a._params() != b._params():
            raise ValueError(f"incompatible CQFs: {a._params()} vs {b._params()}")
        out = cls(a.q, a.r, a.seed)
        out.fingerprints = a.fingerprints
        out.counts = a.counts
        out.total = a.total
        out._fold(b.fingerprints, b.counts)
        return out

    @classmethod
    def multi_merge(cls, filters: list) -> "CountingQuotientFilter":
        """qf_multi_merge (gqf.h:308-310)."""
        if not filters:
            raise ValueError("multi_merge needs at least one filter")
        out = filters[0]
        for f in filters[1:]:
            out = cls.merge(out, f)
        return out

    # -- stats ------------------------------------------------------------
    def size_in_bytes(self) -> int:
        """Quotiented layout: r bits per remainder + escaped small counts
        (1 byte each, 8 extra per count >= 255 — the slot-embedded-count
        analogue, gqf.h:49-66) + the occupied-quotient index (distinct
        quotients * (q/8 + 4))."""
        n = self.fingerprints.size
        if n == 0:
            return _HDR_SIZE
        quot = (self.fingerprints >> np.uint64(self.r))
        distinct_q = int(np.count_nonzero(np.concatenate(
            ([True], quot[1:] != quot[:-1]))))
        big = int(np.count_nonzero(self.counts >= 0xFF))
        return (_HDR_SIZE + (n * self.r + 7) // 8 + n + big * 8
                + distinct_q * ((self.q + 7) // 8 + 4))

    def expected_collision_rate(self) -> float:
        n = self.fingerprints.size
        return n * n / 2.0 ** (self.q + self.r + 1)

    # -- io ---------------------------------------------------------------
    def to_bytes(self) -> bytes:
        """v2 blob: counts are stored as uint8 with a 0xFF escape to a
        side table of full int64s — the serialized analogue of the
        reference's slot-embedded small counts (gqf.h:49-66: counts
        below the escape threshold live inside slots, big ones spill).
        Token-frequency counts are overwhelmingly small, so the counts
        section shrinks ~8x; escapes cost 8 extra bytes each."""
        small = self.counts < 0xFF
        packed = np.where(small, self.counts, 0xFF).astype(np.uint8)
        big = self.counts[~small].astype("<i8")
        hdr = struct.pack(_FMT, _MAGIC, 2, self.q, self.r, self.seed,
                          self.fingerprints.size, self.total)
        return (hdr + self.fingerprints.astype("<u8").tobytes()
                + packed.tobytes() + big.tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountingQuotientFilter":
        magic, ver, q, r, seed, n, total = struct.unpack_from(_FMT, blob)
        if magic != _MAGIC or ver not in (1, 2):
            raise ValueError("bad cqf blob header")
        f = cls(q, r, seed)
        off = _HDR_SIZE
        f.fingerprints = np.frombuffer(blob, dtype="<u8", offset=off,
                                       count=n).astype(np.uint64)
        off += n * 8
        if ver == 1:  # plain int64 counts (pre-escape blobs still read)
            f.counts = np.frombuffer(blob, dtype="<i8", offset=off,
                                     count=n).astype(np.int64)
        else:
            packed = np.frombuffer(blob, dtype=np.uint8, offset=off, count=n)
            counts = packed.astype(np.int64)
            esc = np.flatnonzero(packed == 0xFF)
            if esc.size:
                big = np.frombuffer(blob, dtype="<i8", offset=off + n,
                                    count=esc.size)
                counts[esc] = big
            f.counts = counts
        f.total = total
        return f
