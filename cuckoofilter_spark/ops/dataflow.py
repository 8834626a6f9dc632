"""The reference benchmark harness's dataflow operators, Spark-first.

The reference's benchmark driver contains the only relational
operators in the repo (SURVEY.md §2.5): sort-merge intersection count,
distinct count, duplicate detection, and sampled union (mix-in). Here
each is a declarative DataFrame plan — Catalyst picks the physical
strategy (broadcast vs sort-merge join, partial aggregation), which is
the whole point of re-expressing them Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def match_size(a: DataFrame, a_col: str, b: DataFrame, b_col: str) -> DataFrame:
    """Intersection size of two key sets.

    ``match_size`` in the reference sorts both vectors and sort-merge
    counts (bulk-insert-and-query.cc:439-479) — the literal equivalent
    of a distinct inner equi-join count. One row: ``match_cnt``.
    """
    da = a.select(F.col(a_col).alias("k")).distinct()
    db = b.select(F.col(b_col).alias("k")).distinct()
    return da.join(db, "k", "inner").agg(F.count("*").alias("match_cnt"))


def hll_overlap(a: DataFrame, a_col: str, b: DataFrame, b_col: str,
                p: int = 14, seed: int = 0x5EED) -> dict:
    """Join-free overlap estimate: |A∩B| and Jaccard via HLL
    inclusion-exclusion — the scale path beside exact ``match_size``.

    ``match_size`` shuffles BOTH key sets on the join key; at 10^12
    rows that is the dominant exchange. This estimates the same answer
    from two independent linear sketch passes (shuffle volume = HLL
    blobs, 2^p registers each, never rows): union(A,B) is the exact
    register-wise max merge (HLL unions are lossless), so
    est(A∩B) = est(A) + est(B) - est(A∪B). Each estimate carries the
    published relative error 1.04/sqrt(2^p); the intersection bound
    below sums the three 3-sigma absolute errors (the estimates are
    positively correlated through shared hashes, so the independent-sum
    bound is conservative).

    Returns driver-side scalars (the sketch-aggregate convention):
    est_a, est_b, est_union, est_intersection (clamped at 0),
    jaccard_est, and err_bound (absolute, on the intersection).
    Deterministic for a fixed seed — the same inputs always give the
    same estimates, so bound checks are replay-stable.
    """
    from ..kernels.hll import HyperLogLog
    from ..sketch.aggregates import hll_sketch

    ha = hll_sketch(a, a_col, p=p, seed=seed)
    hb = hll_sketch(b, b_col, p=p, seed=seed)
    hu = HyperLogLog.merge(ha, hb)
    est_a, est_b, est_u = ha.estimate(), hb.estimate(), hu.estimate()
    inter = max(0.0, est_a + est_b - est_u)
    sigma = 1.04 / (1 << p) ** 0.5
    bound = 3.0 * sigma * (est_a + est_b + est_u) + 8.0
    return {
        "est_a": est_a, "est_b": est_b, "est_union": est_u,
        "est_intersection": inter,
        "jaccard_est": inter / est_u if est_u > 0 else 0.0,
        "err_bound": bound,
    }


def cms_join_size(a: DataFrame, a_col: str, b: DataFrame, b_col: str,
                  eps: float = 0.0001, delta: float = 0.01,
                  seed: int = 0x5EED) -> dict:
    """Join-free equi-join CARDINALITY estimate via the CMS inner
    product (Cormode-Muthukrishnan 2005 §4.2) — the optimizer-style
    "how big would a JOIN b on k be?" answer without shuffling either
    side on the key.

    The exact join size is sum_k f_a(k) * f_b(k) (multiplicities on
    both sides). Each side is one linear CMS pass (blob-only shuffle,
    the sketch-aggregate convention); the estimate is the min over
    depth rows of the row dot products. Two properties the caller can
    assert: (1) est >= exact ALWAYS (collisions only add mass — a
    deterministic one-sided bound), (2) est - exact <=
    eps * |a| * |b| per row with constant probability, sharpened by
    the min over rows; the 3x-slack check below is replay-stable for
    a fixed seed.

    Returns driver-side scalars: est (int), err_bound
    (3 * eps * rows_a * rows_b + 8, absolute), rows_a, rows_b.
    """
    from ..kernels.cms import CountMinSketch  # noqa: F401 (type of result)
    from ..sketch.aggregates import cms_sketch

    sa = cms_sketch(a, a_col, eps=eps, delta=delta, seed=seed)
    sb = cms_sketch(b, b_col, eps=eps, delta=delta, seed=seed)
    est = sa.inner_product(sb)
    rows_a, rows_b = int(sa.total), int(sb.total)
    return {
        "est": est,
        "err_bound": 3.0 * eps * rows_a * rows_b + 8.0,
        "rows_a": rows_a,
        "rows_b": rows_b,
    }


def count_distinct_exact(df: DataFrame, col: str) -> DataFrame:
    """Exact distinct count (count_distinct, bulk-insert-and-query.cc:456-468)."""
    return df.agg(F.countDistinct(col).alias("distinct_cnt"))


def has_duplicates(df: DataFrame, col: str) -> DataFrame:
    """``has_duplicates`` (bulk-insert-and-query.cc:481-484): one bool row."""
    return df.agg(
        (F.count(col) != F.countDistinct(col)).alias("has_dups"))


def deterministic_sample(df: DataFrame, col: str, pct: int, modulus: int = 97,
                         mult: int = 1000003) -> DataFrame:
    """Deterministic pseudo-sample: keep rows where
    ``(key * mult) % modulus < pct * modulus / 100``.

    Replaces the reference's reservoir sampling (benchmarks/random.h:73-93)
    with a stateless hash threshold — the distributed-friendly version
    (no sequential reservoir state), reproducible across engines.
    Evaluated as ``pmod(pmod(key, m) * (mult % m), m)`` — identical to
    ``(key * mult) mod m`` by modular arithmetic, but (a) ``pmod`` (not
    ``%``) keeps the remainder in [0, m) for NEGATIVE keys, where a
    signed remainder would admit ~every negative-keyed row regardless
    of ``pct`` (xxhash64-keyified columns are ~half negative), and
    (b) the intermediate stays < m^2, so full-range int64 keys cannot
    overflow the ANSI-mode multiply. SQL oracles over possibly-negative
    keys must spell it ``((k % m) * (mult % m) % m + m) % m``.
    """
    thresh = pct * modulus // 100
    return df.where(
        F.pmod(F.pmod(F.col(col), F.lit(modulus)) * F.lit(mult % modulus),
               F.lit(modulus)) < F.lit(thresh))


def mix_in(positive: DataFrame, negative: DataFrame, col: str, found_pct: int) -> DataFrame:
    """Probe-set composition (``MixIn``, benchmarks/random.h:98-156):
    ``found_pct``% sampled members + (100-found_pct)% non-members,
    labeled with ground truth. Uses the deterministic sampler so the
    same probe set is reproducible by any engine.
    """
    pos = (deterministic_sample(positive.select(F.col(col).alias("probe")).distinct(),
                                "probe", found_pct)
           .withColumn("expected_hit", F.lit(True)))
    neg = (deterministic_sample(negative.select(F.col(col).alias("probe")).distinct(),
                                "probe", 100 - found_pct)
           .withColumn("expected_hit", F.lit(False)))
    return pos.unionAll(neg)
