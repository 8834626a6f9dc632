"""HyperLogLog kernel (pure numpy).

The reference computes distinct counts exactly by sort-dedup
(``count_distinct``, benchmarks/bulk-insert-and-query.cc:456-468); the
north rule requires the distributed approximate equivalent as a
mergeable sketch. Classic Flajolet et al. HLL:

- m = 2^p registers; register index = high p bits of the hash;
  rho = 1 + leading-zero count of the remaining 64-p bits;
- estimate = alpha_m * m^2 / sum(2^-M_j), with linear counting below
  2.5m and no large-range correction needed at 64-bit hashes;
- merge = elementwise register max — exactly associative/commutative;
- standard error 1.04 / sqrt(m) (asserted at 3 sigma in tests).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import U64, simple_mix_split

_MAGIC = b"HLL1"
_FMT = "<4sHBBQ"
_HDR_SIZE = struct.calcsize(_FMT)  # plain fmt string: struct.Struct instances are not cloudpickle-able  # magic ver p pad seed

_CHUNK = 1 << 18  # keys per kernel pass; keeps temporaries L2/L3-resident


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HyperLogLog:
    # a register max ignores repeats: the build engine
    # (sketch/udaf.add_batch) feeds a list batch's distinct keys only
    feed = "distinct"

    def __init__(self, p: int = 14, seed: int = 0x5EED):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = int(p)
        self.m = 1 << self.p
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def add_many(self, keys) -> None:
        keys = np.asarray(keys)
        # chunked so the hash + sort temporaries stay cache-resident
        # (full-array passes are DRAM-bandwidth-bound and scale badly
        # across workers); register max accumulates across chunks
        for lo in range(0, keys.size, _CHUNK):
            self._add_chunk(keys[lo:lo + _CHUNK])

    def _add_chunk(self, keys) -> None:
        h = np.unique(simple_mix_split(keys, self.seed))
        if h.size == 0:
            return
        # Equal hashes yield equal (idx, rho), so dedupe first. The sorted
        # unique hashes are grouped by idx (idx = high p bits), and within
        # an idx run `rest` ascends, so rho (leading zeros + 1) is
        # non-increasing: the max rho of each register is simply the FIRST
        # element of its run — no np.maximum.at scatter (a ~300k ops/s
        # scalar loop); everything below runs on <= m survivors.
        idx = (h >> U64(64 - self.p)).astype(np.int64)
        first = np.empty(h.size, dtype=bool)
        first[0] = True
        np.not_equal(idx[1:], idx[:-1], out=first[1:])
        h = h[first]
        idx = idx[first]
        rest = (h << U64(self.p)) | U64((1 << self.p) - 1)  # pad low bits
        # rho = leading zeros of `rest` + 1, in [1, 64-p+1]; integer
        # bisection (np.frexp on float64 is unsafe at 64-bit precision)
        rho = np.ones(h.size, dtype=np.uint8)
        v = rest
        for shift in (32, 16, 8, 4, 2, 1):
            mask = v < (U64(1) << U64(64 - shift))
            rho[mask] += shift
            v = np.where(mask, v << U64(shift), v)
        self.registers[idx] = np.maximum(self.registers[idx], rho)

    def estimate(self) -> float:
        regs = self.registers.astype(np.float64)
        e = _alpha(self.m) * self.m * self.m / np.sum(np.exp2(-regs))
        if e <= 2.5 * self.m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return float(self.m * np.log(self.m / zeros))  # linear counting
        return float(e)

    def rel_error(self) -> float:
        return 1.04 / np.sqrt(self.m)

    def _params(self) -> tuple:
        return (self.p, self.seed)

    @classmethod
    def merge(cls, a: "HyperLogLog", b: "HyperLogLog") -> "HyperLogLog":
        if a._params() != b._params():
            raise ValueError(f"incompatible HLL sketches: {a._params()} vs {b._params()}")
        out = cls(a.p, a.seed)
        np.maximum(a.registers, b.registers, out=out.registers)
        return out

    def to_bytes(self) -> bytes:
        return struct.pack(_FMT, _MAGIC, 1, self.p, 0, self.seed) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HyperLogLog":
        magic, ver, p, _pad, seed = struct.unpack_from(_FMT, blob)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad hll blob header")
        s = cls(p, seed)
        s.registers = np.frombuffer(blob, dtype=np.uint8, offset=_HDR_SIZE,
                                    count=s.m).copy()
        return s
