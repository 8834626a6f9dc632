"""Uniform filter facade — the reference's FilterAPI parity surface.

The reference normalizes every structure behind one adapter so harness
code is family-generic (benchmarks/filter-api.h:13-63: ConstructFromAddCount /
Add / Contain specialized per Table type). This module is that adapter
for the Spark layer: one ``build_filter(df, col, kind=...)`` entry over
every implemented family, and the probes ``contains_col(spark, filt,
col)`` (broadcast) and ``contains_sharded(df, col, filt)`` (shard by
shard, no broadcast) from ``sketch/membership.py``, which ask the built
object how to answer instead of switching on its type — so pipeline
code (and benchmarks) can switch families with a string, exactly like
the reference's template parameter.

Families and their Spark builders:

    cuckoo / cuckoo_semisort / cuckoo_stable  membership.cuckoo_build
    bloom / blocked_bloom / grow_bloom        aggregates.*_sketch
    xor / xorplus                             membership.xor*_build
    gcs                                       gcsfilter.gcs_build
    shingle / tail / crate                    membership.*_build

``capacity=None`` is resolved the same way everywhere it is needed:
one ``approx_count_distinct`` pre-pass with 15% headroom (callers at
scale should pass the known cardinality — the reference's add_count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .membership import contains_col, contains_sharded  # noqa: F401


def _need_capacity(df, col, capacity):
    from .udaf import approx_distinct_capacity

    return (approx_distinct_capacity(df, col) if capacity is None
            else int(capacity))


def _no_capacity(kind, capacity):
    # refuse rather than silently drop: xor/xorplus/gcs are static
    # builds sized from the exact key set, tail is adaptive by design
    if capacity is not None:
        raise ValueError(
            f"{kind!r} filters are sized from the data; capacity is not "
            f"a parameter (got {capacity})")


def _build_cuckoo(df, col, capacity, seed, mode="single", stable=False, **kw):
    from .membership import cuckoo_build

    return cuckoo_build(df, col, capacity=capacity, seed=seed, mode=mode,
                        stable=stable, **kw)


def _build_bloom(df, col, capacity, seed, **kw):
    from .aggregates import bloom_sketch

    return bloom_sketch(df, col, capacity=_need_capacity(df, col, capacity),
                        seed=seed, **kw)


def _build_blocked_bloom(df, col, capacity, seed, **kw):
    from .aggregates import blocked_bloom_sketch

    return blocked_bloom_sketch(
        df, col, capacity=_need_capacity(df, col, capacity), seed=seed, **kw)


def _build_blocked_bloom64(df, col, capacity, seed, **kw):
    from .aggregates import blocked_bloom64_sketch

    return blocked_bloom64_sketch(
        df, col, capacity=_need_capacity(df, col, capacity), seed=seed, **kw)


def _build_fixed_blocked_bloom(df, col, capacity, seed, **kw):
    from .aggregates import fixed_blocked_bloom_sketch

    return fixed_blocked_bloom_sketch(
        df, col, capacity=_need_capacity(df, col, capacity), seed=seed, **kw)


def _build_grow_bloom(df, col, capacity, seed, **kw):
    from .aggregates import grow_blocked_bloom_sketch

    if capacity is not None:  # natural mapping: the starting level size
        kw.setdefault("initial_capacity", int(capacity))
    return grow_blocked_bloom_sketch(df, col, seed=seed, **kw)


def _build_xor(df, col, capacity, seed, **kw):
    from .membership import xor_build

    _no_capacity("xor", capacity)
    return xor_build(df, col, seed=seed, **kw)


def _build_xor_sharded(df, col, capacity, seed, **kw):
    from .membership import xor_build_sharded

    _no_capacity("xor_sharded", capacity)
    return xor_build_sharded(df, col, seed=seed, **kw)


def _build_xorplus(df, col, capacity, seed, **kw):
    from .membership import xorplus_build

    _no_capacity("xorplus", capacity)
    return xorplus_build(df, col, seed=seed, **kw)


def _build_gcs(df, col, capacity, seed, **kw):
    from .gcsfilter import gcs_build
    from .udaf import require_key_col

    _no_capacity("gcs", capacity)
    if require_key_col(df, col):  # every other family flattens token
        # arrays implicitly; keep the facade uniform for gcs too
        df = df.select(F.explode(col).alias(col))
    return gcs_build(df, col, seed=seed, **kw)


def _build_shingle(df, col, capacity, seed, **kw):
    from .membership import shingle_build

    return shingle_build(df, col, capacity=capacity, seed=seed, **kw)


def _build_tail(df, col, capacity, seed, **kw):
    from .membership import tail_build

    _no_capacity("tail", capacity)
    return tail_build(df, col, seed=seed, **kw)


def _build_crate(df, col, capacity, seed, **kw):
    from .membership import crate_build

    return crate_build(df, col, capacity=capacity, seed=seed, **kw)


def _build_cuckoo_jvm(df, col, capacity, seed, **kw):
    from .membership import cuckoo_jvm_build

    return cuckoo_jvm_build(df, col, capacity=capacity, seed=seed, **kw)


def _build_blocked_bloom_jvm(df, col, capacity, seed, **kw):
    from .aggregates import blocked_bloom_jvm_sketch

    return blocked_bloom_jvm_sketch(
        df, col, capacity=_need_capacity(df, col, capacity), seed=seed, **kw)


_BUILDERS = {
    "cuckoo": _build_cuckoo,
    # JVM-probeable variants (round 5): same structures, xxhash64 key
    # hash — probe via the zero-Python joins in sketch/membership, or
    # through this facade's contains_col (Arrow blob path, identical
    # answers)
    "cuckoo_jvm": _build_cuckoo_jvm,
    "blocked_bloom_jvm": _build_blocked_bloom_jvm,
    "cuckoo_semisort": lambda df, col, capacity, seed, **kw:
        _build_cuckoo(df, col, capacity, seed, mode="semisort",
                      bits=kw.pop("bits", 13), **kw),
    "cuckoo_stable": lambda df, col, capacity, seed, **kw:
        _build_cuckoo(df, col, capacity, seed, stable=True, **kw),
    "bloom": _build_bloom,
    "blocked_bloom": _build_blocked_bloom,
    "blocked_bloom64": _build_blocked_bloom64,
    "fixed_blocked_bloom": _build_fixed_blocked_bloom,
    "grow_bloom": _build_grow_bloom,
    "xor": _build_xor,
    "xor_sharded": _build_xor_sharded,
    "xorplus": _build_xorplus,
    "gcs": _build_gcs,
    "shingle": _build_shingle,
    "tail": _build_tail,
    "crate": _build_crate,
}


def filter_families() -> tuple:
    """The buildable family names, reference-suite order."""
    return tuple(_BUILDERS)


def build_filter(df: DataFrame, col: str, kind: str = "cuckoo",
                 capacity: int | None = None, seed: int = 0x5EED,
                 **params):
    """Build any filter family over an integer (or array<int>) key
    column. Returns the family's filter object — pass it to
    ``contains_col`` for probing; family-specific surfaces (delete,
    info, to_bytes) stay available on the object itself."""
    try:
        builder = _BUILDERS[kind]
    except KeyError:
        raise ValueError(
            f"unknown filter kind {kind!r}; one of {sorted(_BUILDERS)}")
    return builder(df, col, capacity, seed, **params)
