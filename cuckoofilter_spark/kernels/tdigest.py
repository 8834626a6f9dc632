"""t-digest kernel (pure numpy, merging-digest batch variant).

The reference has no quantile structure; the north rule asks for
KLL *and* t-digest as mergeable quantile sketches (papers: Dunning &
Ertl, "Computing extremely accurate quantiles using t-digests").

Merging-digest formulation with the k1 scale function
``k(q) = (delta / 2pi) * asin(2q - 1)``: a centroid may span quantile
range [q0, q1] only if ``k(q1) - k(q0) <= 1``. The batch compress here
is fully vectorized: sort incoming (mean, weight) pairs, compute left-
edge quantiles from cumulative weights, and cut a new centroid group
wherever ``floor(k(q_left))`` changes — the standard batched
approximation of the greedy merge, deterministic for a given input
order (we always compress from a fully sorted pair list, so the result
is a pure function of the weighted value multiset: merge is
order-insensitive at the *estimate* level and bit-exact when the merged
multisets are equal).

Accuracy: rank error ~ q(1-q)*4/delta near the tails — far tighter than
uniform-error sketches at extreme quantiles, which is why training-data
pipelines use t-digest for p99s of sequence lengths.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"TDG1"
_FMT = "<4sHHIQd"
_HDR_SIZE = struct.calcsize(_FMT)  # magic ver pad ncentroids total_weight delta

_CHUNK = 1 << 18


class TDigest:
    # add_many takes float64 values, not uint64 keys: the build engine
    # (sketch/udaf.add_batch) feeds it the column's numbers as float64
    feed = "values"

    def __init__(self, delta: float = 200.0):
        self.delta = float(delta)
        self.means = np.zeros(0, dtype=np.float64)
        self.weights = np.zeros(0, dtype=np.float64)
        self.n = 0.0

    # -- scale function ---------------------------------------------------
    def _k(self, q: np.ndarray) -> np.ndarray:
        return (self.delta / (2.0 * np.pi)) * np.arcsin(2.0 * np.clip(q, 0, 1) - 1.0)

    # -- compress ---------------------------------------------------------
    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        order = np.argsort(means, kind="stable")
        m, w = means[order], weights[order]
        total = w.sum()
        if total == 0:
            self.means = np.zeros(0, dtype=np.float64)
            self.weights = np.zeros(0, dtype=np.float64)
            self.n = 0.0
            return
        q_left = (np.cumsum(w) - w) / total
        group = np.floor(self._k(q_left)).astype(np.int64)
        # group ids ascend; map to dense 0..G-1
        cut = np.empty(group.size, dtype=bool)
        cut[0] = True
        np.not_equal(group[1:], group[:-1], out=cut[1:])
        gid = np.cumsum(cut) - 1
        G = int(gid[-1]) + 1
        gw = np.bincount(gid, weights=w, minlength=G)
        gm = np.bincount(gid, weights=w * m, minlength=G) / gw
        self.means, self.weights, self.n = gm, gw, float(total)

    # -- updates ----------------------------------------------------------
    def add_many(self, values) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        for lo in range(0, values.size, _CHUNK):
            ck = values[lo:lo + _CHUNK]
            self._compress(np.concatenate([self.means, ck]),
                           np.concatenate([self.weights, np.ones(ck.size)]))

    @classmethod
    def merge(cls, a: "TDigest", b: "TDigest") -> "TDigest":
        if a.delta != b.delta:
            raise ValueError(f"incompatible t-digests: delta {a.delta} vs {b.delta}")
        out = cls(a.delta)
        out._compress(np.concatenate([a.means, b.means]),
                      np.concatenate([a.weights, b.weights]))
        return out

    # -- queries ----------------------------------------------------------
    def quantile(self, q) -> np.ndarray:
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if self.n == 0:
            return np.full(qs.size, np.nan)
        cum = np.cumsum(self.weights) - self.weights / 2.0
        target = qs * self.n
        return np.interp(target, cum, self.means,
                         left=self.means[0], right=self.means[-1])

    def rank(self, x) -> np.ndarray:
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if self.n == 0:
            return np.full(xs.size, np.nan)
        cum = np.cumsum(self.weights) - self.weights / 2.0
        return np.interp(xs, self.means, cum,
                         left=0.0, right=self.n) / self.n

    def rel_rank_error(self, q: float) -> float:
        """Approximate rank-error bound at quantile q (k1 scale)."""
        return max(4.0 * q * (1.0 - q) / self.delta, 1.0 / self.n if self.n else 1.0)

    # -- io ---------------------------------------------------------------
    def _params(self) -> tuple:
        return (self.delta,)

    def to_bytes(self) -> bytes:
        hdr = struct.pack(_FMT, _MAGIC, 1, 0, self.means.size,
                          int(self.n), self.delta)
        return hdr + self.means.astype("<f8").tobytes() + \
            self.weights.astype("<f8").tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "TDigest":
        magic, ver, _pad, nc, n, delta = struct.unpack_from(_FMT, blob)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad tdigest blob header")
        t = cls(delta)
        off = _HDR_SIZE
        t.means = np.frombuffer(blob, dtype="<f8", offset=off, count=nc).astype(np.float64)
        off += nc * 8
        t.weights = np.frombuffer(blob, dtype="<f8", offset=off, count=nc).astype(np.float64)
        t.n = float(t.weights.sum())
        return t
