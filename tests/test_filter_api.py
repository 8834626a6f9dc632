"""Uniform FilterAPI facade (benchmarks/filter-api.h parity): every
family builds through one entry and probes through one dispatcher,
with zero false negatives on real parquet keys."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.sketch.api import build_filter, contains_col, \
    filter_families
from cuckoofilter_spark.sketch.membership import _FAMILIES


@pytest.fixture(scope="module")
def keyset(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    truth = {r[0] for r in li.select("l_partkey").distinct().collect()}
    return li, part, truth


@pytest.mark.parametrize("kind", filter_families())
def test_every_family_builds_and_probes(spark, keyset, kind):
    li, part, truth = keyset
    filt = build_filter(li, "l_partkey", kind=kind)
    rows = part.withColumn("hit", contains_col(spark, filt, "p_partkey")) \
        .select("p_partkey", "hit").collect()
    assert all(r.hit for r in rows if r.p_partkey in truth), kind  # no FN
    fp = sum(1 for r in rows if r.hit and r.p_partkey not in truth)
    assert fp <= max(10, len(rows) // 10), (kind, fp)  # sane FP at small n


def test_unknown_kind_and_type_raise(spark, keyset):
    li, _, _ = keyset
    with pytest.raises(ValueError, match="unknown filter kind"):
        build_filter(li, "l_partkey", kind="nope")
    with pytest.raises(TypeError, match="no probe registered"):
        contains_col(spark, object(), "p_partkey")


def test_capacity_contract(spark, keyset):
    """Explicit capacity must be honored (grow_bloom: initial level) or
    refused (static/adaptive families), never silently dropped."""
    li, part, truth = keyset
    f = build_filter(li, "l_partkey", kind="grow_bloom", capacity=4096)
    assert f.levels[0].num_buckets >= 4096 // 8  # sized from the cap
    for kind in ("xor", "xor_sharded", "xorplus", "gcs", "tail"):
        with pytest.raises(ValueError, match="sized from the data"):
            build_filter(li, "l_partkey", kind=kind, capacity=1000)


def test_adversarial_keys_all_families(spark):
    """Extreme int64 keys (negatives, min/max, duplicates) build and
    probe with zero false negatives in every family — signedness is
    normalized once (keys_u64 bit-view) at build AND probe."""
    keys = [0, 1, -1, 2**63 - 1, -(2**63), 42, 42, -99999999999]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    probe = spark.createDataFrame(
        [(k,) for k in keys + [7, -7, 2**62]], "k long")
    want = set(keys)
    for kind in filter_families():
        filt = build_filter(df, "k", kind=kind)
        rows = probe.withColumn("hit", contains_col(spark, filt, "k")).collect()
        missing = [r.k for r in rows if r.k in want and not r.hit]
        assert not missing, (kind, missing)


def test_array_token_column_all_families(spark):
    """The input_hint's core shape — tokens: array<int32> — must build
    through every facade family (arrays flatten in the build) and probe
    exploded tokens with zero false negatives."""
    from cuckoofilter_spark.sources.tokens import tokens_table

    toks = tokens_table(spark, 200, seed=5).persist()
    flat = toks.select(F.explode("tokens").alias("t")).distinct().persist()
    want = {r[0] for r in flat.collect()}
    probe = flat.limit(300)
    for kind in filter_families():
        filt = build_filter(toks, "tokens", kind=kind)
        rows = probe.withColumn("hit", contains_col(spark, filt, "t")).collect()
        fn = [r.t for r in rows if r.t in want and not r.hit]
        assert not fn, (kind, fn[:5])


@pytest.mark.parametrize("kind", ["cuckoo", "xor_sharded", "tail"])
def test_sharded_build_ignores_null_array_elements(spark, kind):
    """A NULL element inside an array cell is dropped by the Arrow key
    decoder (``keys_u64``): it used to reach pandas as NaN, and the int64 cast turned it into a garbage
    INT64_MIN key (num_items 5, contains(INT64_MIN) True)."""
    df = spark.createDataFrame([([1, None, 3],), ([4, 5],)], "k array<long>")
    filt = build_filter(df, "k", kind=kind)
    assert filt.num_items() == 4
    keys = np.array([1, 3, 4, 5, -(2**63)], dtype=np.int64).view(np.uint64)
    assert filt.contains_u64(keys).tolist() == [True] * 4 + [False]


def test_distinct_keys_ignores_null_array_elements(spark):
    from cuckoofilter_spark.sketch.membership import distinct_keys_u64

    df = spark.createDataFrame([([1, None, 3],), ([4, 5],), (None,)],
                               "k array<long>")
    assert distinct_keys_u64(df, "k").view(np.int64).tolist() == [1, 3, 4, 5]


@pytest.mark.parametrize("kind", [k for k in filter_families()
                                  if "num_shards" in _FAMILIES[k].params])
@pytest.mark.parametrize("num_shards", [6, 0, -4])
def test_bad_num_shards_raises_before_any_job(spark, jobs_of, kind,
                                              num_shards):
    """``num_shards`` must be a positive power of two (``shard_of``
    routes by the key hash's low bits), refused before the capacity
    pre-pass or the build runs a job."""
    df = spark.range(0, 5000, numPartitions=4).select(F.col("id").alias("k"))

    def build():
        with pytest.raises(ValueError, match="power of two"):
            build_filter(df, "k", kind=kind, num_shards=num_shards)

    assert jobs_of(build) == 0
