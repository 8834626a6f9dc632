"""Uniform filter facade — the reference's FilterAPI parity surface.

The reference normalizes every structure behind one adapter so harness
code is family-generic (benchmarks/filter-api.h:13-63: ConstructFromAddCount /
Add / Contain specialized per Table type). This module is that adapter
for the Spark layer: one ``build_filter(df, col, kind=...)`` entry over
every implemented family, and the probes ``contains_col(spark, filt,
col)`` (broadcast) and ``contains_sharded(df, col, filt)`` (shard by
shard, no broadcast). All three live in ``sketch/membership.py`` and
ask a declaration instead of switching on a type: ``build_filter``
reads the kind's ``_Family`` row, the probes the built object — so
pipeline code (and benchmarks) can switch families with a string,
exactly like the reference's template parameter.

Families and their build shapes (``membership._FAMILIES``):

    cuckoo / cuckoo_jvm / cuckoo_semisort /   by key: one kernel per
    cuckoo_stable / shingle / tail / crate /  key shard
    xor_sharded
    bloom / blocked_bloom / blocked_bloom64 / tree: OR-merged partials
    blocked_bloom_jvm / fixed_blocked_bloom
    xor / xorplus / grow_bloom                driver: one kernel over
                                              the distinct keys
    gcs                                       its own sort-encode plan

``capacity`` follows each kind's rule. Omitted, it is one
``approx_count_distinct`` pre-pass: x 1.15 + 64 for the Bloom and
cuckoo kinds and shingle, the bare estimate for crate. grow_bloom
starts its first level at it; xor, xor_sharded, xorplus, gcs and tail
are sized from the data and refuse it. Callers at scale should pass
the known cardinality — the reference's add_count.
"""

from __future__ import annotations

from .membership import build_filter, contains_col, contains_sharded, \
    filter_families  # noqa: F401
