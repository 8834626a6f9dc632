"""Count-min sketch kernel (pure numpy).

The Spark-native equivalent of the reference's counting quotient filter
capability (``qf_insert(key, count)`` / ``qf_count_key_value``,
gqf.h:137-201): point-frequency estimates for a key multiset, mergeable
by elementwise addition (exactly associative/commutative, the
``qf_merge`` analogue at gqf.c:2428-2475 without its layout caveats).

Cormode-Muthukrishnan bounds: with width w and depth d, the estimate
overestimates by at most eps*N with probability >= 1-delta, where
eps = e/w and delta = e^-d. Estimates never underestimate.
Rows use independent seeds derived from (seed, row).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import U64, lemire_reduce, simple_mix_split

_MAGIC = b"CMS1"
_FMT = "<4sHBBIQQ"
_HDR_SIZE = struct.calcsize(_FMT)  # plain fmt string: struct.Struct instances are not cloudpickle-able  # magic ver d pad w seed total

_CHUNK = 1 << 18  # keys per kernel pass; keeps temporaries L2/L3-resident


class CountMinSketch:
    # the build engine (sketch/udaf.add_batch) feeds a list batch as its
    # distinct keys plus counts: add_many(keys, counts) sums the same
    # table and total as adding every occurrence
    feed = "counts"

    def __init__(self, width: int, depth: int = 4, seed: int = 0x5EED):
        self.width = int(width)
        self.depth = int(depth)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0

    @classmethod
    def create(cls, eps: float = 0.0005, delta: float = 0.01, seed: int = 0x5EED) -> "CountMinSketch":
        w = int(np.ceil(np.e / eps))
        d = int(np.ceil(np.log(1.0 / delta)))
        return cls(w, d, seed)

    @property
    def eps(self) -> float:
        return float(np.e / self.width)

    @property
    def delta(self) -> float:
        return float(np.exp(-self.depth))

    def _row_idx(self, keys, row: int) -> np.ndarray:
        h = simple_mix_split(keys, self.seed ^ (0x9E3779B97F4A7C15 * (row + 1) & 0xFFFFFFFFFFFFFFFF))
        return lemire_reduce(h >> U64(16), self.width).astype(np.int64)

    def add_many(self, keys, counts=None) -> None:
        keys = np.asarray(keys)
        if counts is not None:
            counts = np.asarray(counts, dtype=np.int64)
            # float64 weights are exact for counts < 2^53 (asserted)
            if counts.size and int(np.abs(counts).max()) >= (1 << 53):
                raise ValueError("counts too large for exact bincount path")
        # np.add.at is a ~300k ops/s scalar scatter; bincount is a C
        # histogram at ~100M ops/s and the row add is a dense w-vector op.
        # Chunking keeps each hash round's temporaries L2-resident — the
        # full-array version is DRAM-bandwidth-bound and collapses under
        # multi-worker parallelism (7x slower single-core, worse scaled).
        for lo in range(0, keys.size, _CHUNK):
            ck = keys[lo:lo + _CHUNK]
            cc = None if counts is None else counts[lo:lo + _CHUNK]
            for r in range(self.depth):
                idx = self._row_idx(ck, r)
                if cc is None:
                    self.table[r] += np.bincount(idx, minlength=self.width)
                else:
                    self.table[r] += np.bincount(
                        idx, weights=cc, minlength=self.width).astype(np.int64)
        self.total += int(keys.size if counts is None else counts.sum())

    def query_many(self, keys) -> np.ndarray:
        keys = np.asarray(keys)
        est = np.full(keys.size, np.iinfo(np.int64).max, dtype=np.int64)
        for r in range(self.depth):
            np.minimum(est, self.table[r][self._row_idx(keys, r)], out=est)
        return est

    def inner_product(self, other: "CountMinSketch") -> int:
        """Join-size / inner-product estimate: min over rows of
        dot(self.table[r], other.table[r]) — the Cormode-Muthukrishnan
        (2005, §4.2) equi-join cardinality estimator.

        Deterministic guarantee: every row's dot OVERcounts the true
        inner product sum_k f_a(k)*f_b(k) (hash collisions only add
        cross terms), so the min is always >= the truth; the
        probabilistic side is error <= eps * ||f_a||_1 * ||f_b||_1
        per row with probability 1 - 1/e, driven to ~delta by the min
        over ``depth`` independent rows. Requires identical
        (width, depth, seed) — both tables must bucket keys the same
        way for the row dots to be meaningful.
        """
        if self._params() != other._params():
            raise ValueError(
                f"incompatible CMS sketches: {self._params()} vs "
                f"{other._params()}")
        # row dots in object (arbitrary-precision Python int) arrays —
        # the exact-math path, matching AmsF2.estimate: depth is tiny,
        # so exactness beats an int64 dot that could overflow
        best = None
        for r in range(self.depth):
            d = int(np.dot(self.table[r].astype(object),
                           other.table[r].astype(object)))
            best = d if best is None else min(best, d)
        return int(best)

    def _params(self) -> tuple:
        return (self.width, self.depth, self.seed)

    @classmethod
    def merge(cls, a: "CountMinSketch", b: "CountMinSketch") -> "CountMinSketch":
        if a._params() != b._params():
            raise ValueError(f"incompatible CMS sketches: {a._params()} vs {b._params()}")
        out = cls(a.width, a.depth, a.seed)
        np.add(a.table, b.table, out=out.table)
        out.total = a.total + b.total
        return out

    def to_bytes(self) -> bytes:
        hdr = struct.pack(_FMT, _MAGIC, 1, self.depth, 0, self.width, self.seed, self.total)
        return hdr + self.table.astype("<i8").tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountMinSketch":
        magic, ver, d, _pad, w, seed, total = struct.unpack_from(_FMT, blob)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad cms blob header")
        s = cls(w, d, seed)
        s.table = np.frombuffer(blob, dtype="<i8", offset=_HDR_SIZE,
                                count=w * d).astype(np.int64).reshape(d, w)
        s.total = total
        return s
