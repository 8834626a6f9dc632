"""KLL quantile sketch kernel (pure numpy).

The reference has no quantile structure (SURVEY.md §2.6); this derives
from the published KLL algorithm (Karnin-Lang-Liberty, FOCS'16):

- a stack of compactors; the compactor at height h holds items of
  weight 2^h and has capacity ~ k * (2/3)^(depth-1-h), min 2;
- a full compactor sorts its buffer and promotes every other item
  (random even/odd offset) to height h+1;
- rank error: |est_rank - true_rank| <= eps * n with eps ~ O(1/k);
  tests assert the conservative empirical bound 3/k at 3 sigma.

Determinism: the even/odd coin is a counter-based Philox stream keyed
on (seed, compaction_counter) — a build over the same data in the same
order is bit-reproducible (checkpoint/resume), and estimates after any
merge tree stay within the published bound. Unlike Bloom/HLL/CMS the
merge is NOT bit-exact associative (true of KLL generally — the sketch
is randomized); tests assert bound-level associativity instead.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"KLL1"
_FMT = "<4sHHIQQQ"
_HDR_SIZE = struct.calcsize(_FMT)  # plain fmt string: struct.Struct instances are not cloudpickle-able  # magic ver k nlevels seed n compactions


def _capacity(k: int, height: int, num_levels: int) -> int:
    return max(2, int(np.ceil(k * (2.0 / 3.0) ** (num_levels - 1 - height))))


class KLLSketch:
    # add_many takes float64 values, not uint64 keys: the build engine
    # (sketch/udaf.add_batch) feeds it the column's numbers as float64
    feed = "values"

    def __init__(self, k: int = 200, seed: int = 0x5EED):
        self.k = int(k)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self._compactions = 0

    @property
    def eps(self) -> float:
        """Conservative empirical rank-error bound."""
        return 3.0 / self.k

    def _coin(self) -> int:
        self._compactions += 1
        rng = np.random.Generator(np.random.Philox(key=[self.seed, self._compactions]))
        return int(rng.integers(0, 2))

    def _compress(self) -> None:
        while True:
            nl = len(self.levels)
            for h in range(nl):
                cap = _capacity(self.k, h, nl)
                if self.levels[h].size > cap:
                    buf = np.sort(self.levels[h])
                    off = self._coin()
                    # promote exactly floor(size/2) items (one per pair,
                    # coin-chosen) and KEEP any odd leftover at weight
                    # 2^h: promoting ceil(size/2) would inflate total
                    # represented weight by 2^h per odd compaction — a
                    # systematic positive rank bias, not the zero-mean
                    # error KLL guarantees
                    pairs = buf.size // 2
                    promoted = buf[off:2 * pairs:2]
                    kept = buf[2 * pairs:]
                    self.levels[h] = kept
                    if h + 1 == nl:
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
                    break
            else:
                return

    def add_many(self, values) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if not v.size:
            return
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n += v.size
        self._compress()

    def _items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, buf in enumerate(self.levels):
            if buf.size:
                vals.append(buf)
                wts.append(np.full(buf.size, 1 << h, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        srt = np.argsort(v, kind="stable")
        return v[srt], w[srt]

    def quantile(self, q) -> np.ndarray:
        """Value(s) at normalized rank(s) q in [0, 1]."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        v, w = self._items()
        if not v.size:
            return np.full(qs.shape, np.nan)
        cw = np.cumsum(w)
        targets = np.clip(qs * cw[-1], 1, cw[-1])
        pos = np.searchsorted(cw, targets, side="left")
        return v[np.minimum(pos, v.size - 1)]

    def rank(self, x) -> np.ndarray:
        """Estimated number of items <= x (un-normalized)."""
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        v, w = self._items()
        if not v.size:
            return np.zeros(xs.shape, dtype=np.int64)
        cw = np.concatenate([[0], np.cumsum(w)])
        pos = np.searchsorted(v, xs, side="right")
        return cw[pos]

    def _params(self) -> tuple:
        return (self.k, self.seed)

    @classmethod
    def merge(cls, a: "KLLSketch", b: "KLLSketch") -> "KLLSketch":
        if a._params() != b._params():
            raise ValueError(f"incompatible KLL sketches: {a._params()} vs {b._params()}")
        out = cls(a.k, a.seed)
        nl = max(len(a.levels), len(b.levels))
        out.levels = []
        for h in range(nl):
            bufs = []
            if h < len(a.levels):
                bufs.append(a.levels[h])
            if h < len(b.levels):
                bufs.append(b.levels[h])
            out.levels.append(np.concatenate(bufs) if bufs else np.empty(0))
        out.n = a.n + b.n
        out._compactions = a._compactions + b._compactions
        out._compress()
        return out

    def to_bytes(self) -> bytes:
        hdr = struct.pack(_FMT, _MAGIC, 1, self.k, len(self.levels), self.seed,
                        self.n, self._compactions)
        lens = np.array([b.size for b in self.levels], dtype="<u4").tobytes()
        return hdr + lens + b"".join(b.astype("<f8").tobytes() for b in self.levels)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KLLSketch":
        magic, ver, k, nlev, seed, n, comp = struct.unpack_from(_FMT, blob)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad kll blob header")
        s = cls(k, seed)
        off = _HDR_SIZE
        lens = np.frombuffer(blob, dtype="<u4", offset=off, count=nlev)
        off += 4 * nlev
        s.levels = []
        for ln in lens:
            s.levels.append(np.frombuffer(blob, dtype="<f8", offset=off,
                                          count=int(ln)).astype(np.float64))
            off += 8 * int(ln)
        s.n = n
        s._compactions = comp
        return s
