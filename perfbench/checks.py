"""Correctness checks and the exact references they compare against.

References are computed from the Parquet files the program reads, with
pyarrow and numpy only, so they share no code path with the library
under test. Every check is counted: a failed check is a failure in the
benchmark's result, never a skipped line.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

# Sketch parameters of every workload and the bounds their outputs are
# held to. None of these depends on the workload seed.
VOCAB = 50_000
SKETCH_SEED = 0x5EED
CF_BITS = 12
CF_FPP_BOUND = 2 * 4 / 2 ** CF_BITS          # 2b / 2^f, b = 4 slots
HLL_P = 14
HLL_BOUND = 3 * 1.04 / math.sqrt(2 ** HLL_P)  # three standard errors
CMS_EPS = 5e-4
CMS_DELTA = 0.01
KLL_K = 200
KLL_BOUND = 3.0 / KLL_K                      # KLLSketch.eps
# The streamed KLL state is a merge of one small sketch per micro-batch.
# At k=200, merging 4-10 batches of 2k values measured up to 0.018
# (1.2 * eps) on this grid over 2100 seeded replays, against under
# 0.006 for one build over the same values. It is held to 2 * eps; the
# count check in check_kll still catches a lost or doubled batch.
KLL_MERGED_BOUND = 2 * KLL_BOUND
KLL_QS = np.linspace(0.01, 0.99, 99)


class Checks:
    """Tally of attempted and failed checks, with the failure lines."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
        return bool(ok)


@dataclass
class Reference:
    """Exact answers for one token table."""

    counts: np.ndarray       # per-token frequency, length VOCAB
    n_tok_sorted: np.ndarray  # every doc's n_tok, ascending
    bytes_on_disk: int

    @property
    def total_tokens(self) -> int:
        return int(self.counts.sum())

    @property
    def present(self) -> np.ndarray:
        return np.flatnonzero(self.counts)


def reference_from_parquet(path: str) -> Reference:
    """Exact token frequencies and n_tok values of a Parquet file or
    directory."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["tokens", "n_tok"])
    flat = t.column("tokens").combine_chunks().flatten().to_numpy()
    if os.path.isfile(path):
        size = os.path.getsize(path)
    else:
        size = sum(os.path.getsize(os.path.join(root, f))
                   for root, _dirs, files in os.walk(path)
                   for f in files if f.endswith(".parquet"))
    return Reference(np.bincount(flat, minlength=VOCAB),
                     np.sort(t.column("n_tok").to_numpy()), size)


def negative_keys(seed: int, n: int) -> np.ndarray:
    """``n`` seeded keys outside the token vocabulary, as uint64."""
    rng = np.random.default_rng(seed)
    return rng.integers(VOCAB, 1 << 40, size=n, dtype=np.int64).view(np.uint64)


def _u64(ids: np.ndarray) -> np.ndarray:
    return ids.astype(np.int64).view(np.uint64)


def check_filter(checks: Checks, filt, ref: Reference,
                 negatives: np.ndarray) -> dict:
    """No false negative on any present token; FPR within 2b/2^f."""
    present = ref.present
    missed = int((~filt.contains_u64(_u64(present))).sum())
    checks.check("cf.false_negatives", missed == 0,
                 f"{missed} of {present.size} present keys missed")
    fpp = float(filt.contains_u64(negatives).mean())
    checks.check("cf.fpp", fpp <= CF_FPP_BOUND,
                 f"observed {fpp:.5f} > bound {CF_FPP_BOUND:.5f}")
    return {"cf_fpp": fpp, "cf_bits_per_item": filt.bits_per_item()}


def check_hll(checks: Checks, hll, ref: Reference) -> dict:
    exact = max(1, ref.present.size)
    err = abs(hll.estimate() - exact) / exact
    checks.check("hll.rel_err", err <= HLL_BOUND,
                 f"{err:.4f} > {HLL_BOUND:.4f}")
    return {"hll_rel_err": err}


def check_cms(checks: Checks, cms, ref: Reference) -> dict:
    """Every vocabulary key: exact <= estimate <= exact + eps * N."""
    ids = np.arange(VOCAB)
    est = cms.query_many(_u64(ids))
    exact = ref.counts
    n = ref.total_tokens
    under = int((est < exact).sum())
    over = int((est > exact + CMS_EPS * n).sum())
    checks.check("cms.no_undercount", under == 0, f"{under} keys undercounted")
    checks.check("cms.overcount_bound", over == 0,
                 f"{over} keys over exact + eps*N")
    return {"cms_rel_overcount": float((est - exact).mean()) / max(1, n)}


def kll_rank_error(kll, values_sorted: np.ndarray) -> float:
    """Largest distance, over the KLL_QS grid, between a requested rank
    and the exact rank interval of the value the sketch returned."""
    n = values_sorted.size
    xs = kll.quantile(KLL_QS)
    lo = np.searchsorted(values_sorted, xs, side="left") / n
    hi = np.searchsorted(values_sorted, xs, side="right") / n
    return float(np.max(np.maximum(0.0, np.maximum(lo - KLL_QS, KLL_QS - hi))))


def check_kll(checks: Checks, kll, values_sorted: np.ndarray,
              bound: float = KLL_BOUND) -> dict:
    """Every value counted once; rank error within ``bound``."""
    checks.check("kll.count", kll.n == values_sorted.size,
                 f"sketch counts {kll.n} values, input has "
                 f"{values_sorted.size}")
    err = kll_rank_error(kll, values_sorted)
    checks.check("kll.rank_err", err <= bound, f"{err:.4f} > {bound:.4f}")
    return {"kll_rank_err": err}
