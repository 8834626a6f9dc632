"""Round-5 surfaces: shared near-dup pair graph memo, GCS multi-code
windowed decode, packing column-collision guards."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# near_dup_pairs: the memoized shared LSH pair graph (VERDICT r4 #7)
# ---------------------------------------------------------------------------
def test_near_dup_pairs_shared_object(spark):
    from cuckoofilter_spark.ops.dedup import minhash_lsh_pairs, near_dup_pairs

    d1 = spark.read.parquet(f"{SF}/documents.parquet")
    d2 = spark.read.parquet(f"{SF}/documents.parquet")
    p1 = near_dup_pairs(d1, "doc_id", "text")
    # a SECOND read of the same path has an equal analyzed plan ->
    # the same cached DataFrame object comes back (the pair graph is
    # computed once and fanned out to clusters/canonical/leakage)
    assert near_dup_pairs(d2, "doc_id", "text") is p1
    # a different input plan or different parameters rebuild
    assert near_dup_pairs(d1.where("n_chars >= 0"), "doc_id",
                          "text") is not p1
    assert near_dup_pairs(d1, "doc_id", "text", threshold=0.9) is not p1
    # and the shared graph answers exactly like a fresh build
    fresh = minhash_lsh_pairs(d1, "doc_id", "text")
    assert sorted(map(tuple, p1.collect())) == \
        sorted(map(tuple, fresh.collect()))


def test_near_dup_pairs_memo_is_session_scoped(spark):
    from cuckoofilter_spark.ops import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = dedup.near_dup_pairs(d, "doc_id", "text")
    key = next(k for k, v in dedup._PAIR_GRAPH_MEMO.items() if v[2] is p)
    sess_id, plan_hash, _ = dedup._PAIR_GRAPH_MEMO[key]
    # poison the session id: the memo must refuse the stale entry and
    # rebuild rather than hand out a DataFrame from a dead session
    dedup._PAIR_GRAPH_MEMO[key] = (sess_id + 1, plan_hash, p)
    try:
        assert dedup.near_dup_pairs(d, "doc_id", "text") is not p
    finally:
        dedup._PAIR_GRAPH_MEMO.pop(key, None)


# ---------------------------------------------------------------------------
# GCS: multi-code-per-gather windowed decode (VERDICT r4 #5)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("n,lf,lb", [
    (100_000, 10, 4),   # default parameters, dense
    (50_000, 8, 3),     # short codes: many codes per window
    (65_000, 14, 4),    # wide residue: ~3 codes per window
    (5_000, 16, 5),     # near the envelope edge
    (4_096, 4, 4),      # tiny k: max codes per window
    (37, 10, 4),        # nearly-empty buckets
    (0, 10, 4),         # empty filter
])
def test_gcs_windowed_equals_bitloop(n, lf, lb):
    from cuckoofilter_spark.kernels.gcs import GcsFilter

    rng = np.random.default_rng(0xC0DE + n + lf)
    keys = np.unique(rng.integers(0, 2**63, int(n * 1.3) + 16,
                                  dtype=np.uint64))[:n]
    f = GcsFilter.build(keys, log2fpp=lf, log2bucket=lb, layout=2)
    probes = np.concatenate([
        keys, rng.integers(0, 2**63, 2 * max(n, 10), dtype=np.uint64)])
    got_w = f._contains_windowed(probes)
    got_b = f._contains_bitloop(probes)
    assert np.array_equal(got_w, got_b)
    if keys.size:
        assert got_w[:keys.size].all(), "false negative in windowed decode"
    neg = got_w[keys.size:]
    if neg.size >= 1000:
        assert neg.mean() <= 3 * 2.0 ** (-lf) + 2e-3


def test_gcs_debruijn_lut_is_exact():
    from cuckoofilter_spark.kernels.gcs import _DEBRUIJN64, _DEBRUIJN_LUT

    p2 = np.uint64(1) << np.arange(64, dtype=np.uint64)
    got = _DEBRUIJN_LUT[(p2 * _DEBRUIJN64) >> np.uint64(58)]
    assert np.array_equal(got, np.arange(64, dtype=np.uint64))


# ---------------------------------------------------------------------------
# packing: fixed-name output columns refuse colliding inputs (ADVICE r4)
# ---------------------------------------------------------------------------
def test_packing_column_collision_guards(spark):
    from cuckoofilter_spark.ops.packing import (hash_split, shuffle_shard,
                                                temperature_resample)

    # case-INSENSITIVE: Spark resolution would silently replace "SPLIT"
    df = spark.range(4).withColumn("SPLIT", F.lit("x"))
    with pytest.raises(ValueError, match="split"):
        hash_split(df, "id", [("a", 1)], den=1)
    with pytest.raises(ValueError, match="pos"):
        shuffle_shard(spark.range(4).withColumn("Pos", F.lit(1)), "id", 2)
    with pytest.raises(ValueError, match="_t"):
        temperature_resample(
            spark.range(4).withColumn("_T", F.lit(1))
            .withColumn("s", F.lit("a")), "id", "s")
    # clean frames still flow
    assert hash_split(spark.range(4), "id", [("a", 1)], den=1).count() == 4


# ---------------------------------------------------------------------------
# GCS v3 split layout (round 5): quotient-delta unary + absolute remainders
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("n,lf,lb", [
    (1, 10, 4),
    (1000, 10, 4),
    (1000, 6, 2),
    (1000, 14, 6),    # m-1 = 63 > 57: every lane takes the slow path
    (50_000, 10, 4),
    (50_000, 8, 0),   # single-slot buckets (m = 1, no unary ones)
    (20_000, 12, 5),
    (3_000, 10, 1),
    (777, 16, 4),
    (0, 10, 4),
])
def test_gcs_v3_split_matches_v2(n, lf, lb):
    """The v3 split layout answers membership bit-identically to the
    v2 rice stream (both are exact codings of the same sorted
    fingerprint set), round-trips through version-3 blobs, and stays
    within ~1 bit/item of v2 (the fixed m-1 unary padding)."""
    from cuckoofilter_spark.kernels.gcs import GcsFilter

    rng = np.random.default_rng(0x5EED + n + lf)
    keys = (rng.choice(np.arange(4 * max(n, 1), dtype=np.uint64),
                       size=n, replace=False)
            if n else np.array([], dtype=np.uint64))
    v2 = GcsFilter.build(keys, log2fpp=lf, log2bucket=lb, layout=2)
    v3 = GcsFilter.build(keys, log2fpp=lf, log2bucket=lb, layout=3)
    probes = np.concatenate(
        [keys, rng.integers(0, 1 << 62, 30_000).astype(np.uint64)])
    a2 = v2.contains_many(probes)
    a3 = v3.contains_many(probes)
    assert np.array_equal(a2, a3)
    if n:
        assert a3[:n].all(), "false negative in v3 probe"
    if n >= 100:  # fixed m-1 padding/bucket dominates degenerate sizes
        assert v3.bits_per_item() - v2.bits_per_item() < 1.5
    rt = GcsFilter.from_bytes(v3.to_bytes())
    assert rt.layout == 3
    assert np.array_equal(rt.contains_many(probes), a3)


def test_gcs_v3_value_zero_lane_decodes():
    """A probe whose fingerprint value is exactly 0 must still check
    the bucket (found iff the bucket holds value 0) in both layouts —
    the regression guard for the acc==value found-at-end derivation."""
    from cuckoofilter_spark.kernels.gcs import GcsFilter

    # craft: tiny filters over many seeds so some probe lands value 0
    rng = np.random.default_rng(3)
    hit = 0
    for seed in range(40):
        keys = rng.integers(0, 1 << 40, 300).astype(np.uint64)
        f2 = GcsFilter.build(keys, log2fpp=4, log2bucket=2,
                             seed=seed, layout=2)
        f3 = GcsFilter.build(keys, log2fpp=4, log2bucket=2,
                             seed=seed, layout=3)
        probes = rng.integers(0, 1 << 40, 4000).astype(np.uint64)
        _, vals = f3._fingerprints(probes, f3.n)
        hit += int((vals == 0).sum())
        assert np.array_equal(f2.contains_many(probes),
                              f3.contains_many(probes))
    assert hit > 0, "sweep never produced a value==0 probe"


def test_gcs_default_build_is_v3():
    from cuckoofilter_spark.kernels.gcs import GcsFilter

    f = GcsFilter.build(np.arange(100, dtype=np.uint64))
    assert f.layout == 3
    assert GcsFilter.from_bytes(f.to_bytes()).layout == 3


# ---------------------------------------------------------------------------
# plan_audit normalizers: counts reflect EXECUTED work (round-5 s3)
# ---------------------------------------------------------------------------
def _plan_audit_mod():
    import importlib.util
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "plan_audit_r5", os.path.join(here, "scripts", "plan_audit.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_audit_dedupes_cached_bodies():
    """A cached relation consumed twice prints its build plan twice
    (fresh expr ids each time) but computes once — audit counts it
    once."""
    pa = _plan_audit_mod()
    plan = "\n".join([
        "Project [a#1L]",
        "+- SortMergeJoin",
        "   :- InMemoryTableScan [a#1L]",
        "   :     +- InMemoryRelation [a#1L], StorageLevel(memory)",
        "   :           +- Exchange hashpartitioning(a#1L, 8)",
        "   :              +- Scan parquet [a#1L]",
        "   +- InMemoryTableScan [a#9L]",
        "         +- InMemoryRelation [a#9L], StorageLevel(memory)",
        "               +- Exchange hashpartitioning(a#9L, 8)",
        "                  +- Scan parquet [a#9L]",
    ])
    a = pa.audit(plan)
    assert a["shuffle_ex"] == 1, "duplicate cached body double-counted"
    assert a["scans"] == 1


def test_plan_audit_drops_aqe_initial_plans():
    """A materialized AdaptiveSparkPlan prints final AND initial plans;
    only the final one executes."""
    pa = _plan_audit_mod()
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   ResultQueryStage",
        "   +- Exchange hashpartitioning(a#1L, 8)",
        "      +- Scan parquet [a#1L]",
        "+- == Initial Plan ==",
        "   Exchange hashpartitioning(a#1L, 8)",
        "   +- Scan parquet [a#1L]",
    ])
    a = pa.audit(plan)
    assert a["shuffle_ex"] == 1
    assert a["scans"] == 1
    assert a["aqe"]


# ---------------------------------------------------------------------------
# JvmBlockedBloomFilter: the zero-Python probe (codegen + broadcast join)
# ---------------------------------------------------------------------------
def _jvm_bb(n=20000, seed=0xABCDEF1234):
    from cuckoofilter_spark.kernels.blocked_bloom import JvmBlockedBloomFilter

    rng = np.random.default_rng(7)
    members = rng.integers(0, 1 << 62, n, dtype=np.int64)
    f = JvmBlockedBloomFilter.create(n, seed=seed, bits_per_key=8)
    f.add_many(members.view(np.uint64))
    return f, members, rng


def test_jvm_blocked_bloom_parity_with_kernel(spark):
    """JVM join-probe == numpy contains_many bit-for-bit, INCLUDING
    false positives and sign-bit (negative long) keys."""
    from cuckoofilter_spark.sketch.membership import blocked_bloom_jvm_flag

    f, members, rng = _jvm_bb()
    probes = np.unique(np.concatenate([
        members[:5000],
        rng.integers(-(1 << 62), 1 << 62, 20000, dtype=np.int64)]))
    expect = f.contains_many(probes.view(np.uint64))
    assert 0 < int(expect.sum()) < probes.size  # non-degenerate mix
    df = spark.createDataFrame([(int(x),) for x in probes], "k long")
    got = dict((r["k"], r["is_member"])
               for r in blocked_bloom_jvm_flag(spark, f, df, "k").collect())
    assert all(got[int(x)] == bool(e) for x, e in zip(probes, expect))


def test_jvm_blocked_bloom_null_and_filter(spark):
    from cuckoofilter_spark.sketch.membership import (
        blocked_bloom_jvm_filter, blocked_bloom_jvm_flag)

    f, members, _ = _jvm_bb()
    df = spark.createDataFrame(
        [(int(members[0]),), (None,)], "k long")
    rows = {r["k"]: r["is_member"]
            for r in blocked_bloom_jvm_flag(spark, f, df, "k").collect()}
    assert rows[int(members[0])] is True
    assert rows[None] is False  # NULL keys never match, row kept
    kept = blocked_bloom_jvm_filter(spark, f, df, "k").collect()
    assert [r["k"] for r in kept] == [int(members[0])]


def test_jvm_blocked_bloom_plan_is_pure_jvm(spark):
    """The probe plan: ONE BroadcastHashJoin, ZERO Python stages, ZERO
    shuffle exchanges, xxhash64 computed once (the md5-inlining trap
    would show as 16 copies)."""
    import re

    from cuckoofilter_spark.sketch.membership import blocked_bloom_jvm_filter

    f, members, _ = _jvm_bb()
    df = spark.range(1000).select(F.col("id").alias("k"))
    plan = (blocked_bloom_jvm_filter(spark, f, df, "k")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") == 1
    assert not re.findall(r"ArrowEval|BatchEval|MapInPandas|PythonUDF", plan)
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("xxhash64") == 1


def test_jvm_blocked_bloom_guards(spark):
    from cuckoofilter_spark.kernels.blocked_bloom import (
        BlockedBloomFilter, JvmBlockedBloomFilter)
    from cuckoofilter_spark.sketch.membership import (
        blocked_bloom_jvm_filter, blocked_bloom_jvm_flag)

    f, _, _ = _jvm_bb()
    # internal-name collision refused (case-insensitive resolution trap)
    df = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("_BB_N0"))
    with pytest.raises(ValueError, match="collide"):
        blocked_bloom_jvm_filter(spark, f, df, "k")
    df2 = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("IS_MEMBER"))
    with pytest.raises(ValueError, match="already present"):
        blocked_bloom_jvm_flag(spark, f, df2, "k")
    # non-integer key column refused eagerly (driver-side), matching
    # the keys_u64 convention — not a mid-job executor CAST error
    df3 = spark.range(5).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(TypeError, match="integer"):
        blocked_bloom_jvm_filter(spark, f, df3, "k")
    # plain blocked-bloom (simple_mix_split hash) refused: its hash is
    # not JVM-expressible, probing it through this path would be garbage
    plain = BlockedBloomFilter.create(100, seed=1)
    with pytest.raises(TypeError, match="JvmBlockedBloomFilter"):
        blocked_bloom_jvm_filter(spark, plain, spark.range(5), "id")
    # cross-class merge refused (same layout, different hash family)
    jvm2 = JvmBlockedBloomFilter(plain.num_buckets, plain.seed)
    with pytest.raises(ValueError, match="incompatible"):
        BlockedBloomFilter.merge(plain, jvm2)


def test_jvm_blocked_bloom_blob_roundtrip():
    from cuckoofilter_spark.kernels.blocked_bloom import (
        BlockedBloomFilter, JvmBlockedBloomFilter)

    f, members, _ = _jvm_bb(n=5000)
    g = JvmBlockedBloomFilter.from_bytes(f.to_bytes())
    assert np.array_equal(f.buckets, g.buckets)
    assert g._params() == f._params()
    probe = np.arange(10000, dtype=np.uint64)
    assert np.array_equal(f.contains_many(probe), g.contains_many(probe))
    # the JVM-variant blob refuses to load as the plain class and
    # vice versa — hash family is filter identity
    with pytest.raises(ValueError, match="header"):
        BlockedBloomFilter.from_bytes(f.to_bytes())


def test_jvm_blocked_bloom_distributed_build_parity(spark):
    """blocked_bloom_jvm_sketch (UDAF tree-merge build) == local
    add_many over the same keys; JVM probe agrees on members + a
    disjoint negative range."""
    from cuckoofilter_spark.kernels.blocked_bloom import JvmBlockedBloomFilter
    from cuckoofilter_spark.sketch.aggregates import blocked_bloom_jvm_sketch
    from cuckoofilter_spark.sketch.membership import blocked_bloom_jvm_flag

    n = 30000
    df = spark.range(n).select((F.col("id") * 7919).alias("k"))
    filt = blocked_bloom_jvm_sketch(df, "k", capacity=n, seed=0x5EED)
    local = JvmBlockedBloomFilter.create(n, seed=0x5EED)
    local.add_many((np.arange(n, dtype=np.uint64) * np.uint64(7919)))
    assert np.array_equal(filt.buckets, local.buckets)
    probes = spark.range(2000).select(
        (F.col("id") * 7919).alias("k")).unionAll(
        spark.range(2000).select((F.col("id") * 7919 + 1).alias("k")))
    got = blocked_bloom_jvm_flag(spark, filt, probes, "k").toPandas()
    gm = dict(zip(got["k"], got["is_member"]))
    keys = np.array(sorted(gm), dtype=np.int64)
    expect = local.contains_many(keys.view(np.uint64))
    assert all(gm[int(x)] == bool(e) for x, e in zip(keys, expect))
    assert all(gm[int(i * 7919)] for i in range(2000))  # no false negatives


# ---------------------------------------------------------------------------
# JvmCuckooFilter: the flagship family's zero-Python probe (mirror semi-join)
# ---------------------------------------------------------------------------
def _jvm_cf(spark, bits=8, n=30000, shards=4, seed=0x5EED):
    from cuckoofilter_spark.sketch.membership import cuckoo_jvm_build

    rng = np.random.default_rng(11)
    members = np.unique(rng.integers(0, 1 << 62, n, dtype=np.int64))
    df = spark.createDataFrame([(int(x),) for x in members], "k long")
    filt = cuckoo_jvm_build(df, "k", capacity=members.size, bits=bits,
                            seed=seed, num_shards=shards)
    return filt, members, rng


def test_jvm_cuckoo_parity_with_kernel(spark):
    """JVM mirror semi-join == the sharded kernel probe bit-for-bit,
    including false positives (bits=8 forces a real FP population) and
    sign-bit keys; flag and filter forms agree."""
    from cuckoofilter_spark.sketch.membership import (
        cuckoo_jvm_filter, cuckoo_jvm_flag)

    filt, members, rng = _jvm_cf(spark)
    probes = np.unique(np.concatenate([
        members[:5000],
        rng.integers(-(1 << 62), 1 << 62, 30000, dtype=np.int64)]))
    expect = filt.contains_u64(probes.view(np.uint64))
    n_true = int(expect.sum())
    assert 5000 < n_true < probes.size  # members + genuine FPs, not all
    pdf = spark.createDataFrame([(int(x),) for x in probes], "k long")
    got = {r["k"]: r["is_member"]
           for r in cuckoo_jvm_flag(spark, filt, pdf, "k").collect()}
    assert len(got) == probes.size  # flag keeps every row exactly once
    assert all(got[int(x)] == bool(e) for x, e in zip(probes, expect))
    fil = {r["k"] for r in cuckoo_jvm_filter(spark, filt, pdf, "k").collect()}
    assert fil == {int(x) for x, e in zip(probes, expect) if e}


def test_jvm_cuckoo_victim_and_null(spark):
    """The victim entry (kick-loop overflow spill) answers through the
    mirror rows; NULL keys never match but flag rows are kept."""
    from cuckoofilter_spark.kernels.cuckoo import JvmCuckooFilter
    from cuckoofilter_spark.sketch.membership import (
        ShardedCuckooFilter, cuckoo_jvm_filter, cuckoo_jvm_flag)

    f = JvmCuckooFilter.create(240, bits=12, seed=7)
    f.add_many(np.arange(5000, dtype=np.uint64), raise_on_full=False)
    assert f.victim_used
    w = ShardedCuckooFilter([f.to_bytes()], bits=12, seed=7,
                            kernel_cls=JvmCuckooFilter)
    probes = np.arange(6000, dtype=np.int64)
    expect = w.contains_u64(probes.view(np.uint64))
    pdf = spark.createDataFrame([(int(x),) for x in probes], "k long")
    got = {r["k"]: r["is_member"]
           for r in cuckoo_jvm_flag(spark, w, pdf, "k").collect()}
    assert all(got[int(x)] == bool(e) for x, e in zip(probes, expect))
    ndf = spark.createDataFrame([(0,), (None,)], "k long")
    rows = {r["k"]: r["is_member"]
            for r in cuckoo_jvm_flag(spark, w, ndf, "k").collect()}
    assert rows[None] is False
    kept = cuckoo_jvm_filter(spark, w, ndf, "k").collect()
    assert None not in {r["k"] for r in kept}


def test_jvm_cuckoo_plan_is_pure_jvm(spark):
    """Probe plan: 2 broadcast joins (tiny shard meta + mirror semi),
    ZERO Python stages, ZERO shuffles, xxhash64 exactly twice (shard
    route + filter hash — the md5-inlining trap would multiply them)."""
    import re

    from cuckoofilter_spark.sketch.membership import cuckoo_jvm_filter

    filt, _, _ = _jvm_cf(spark)
    df = spark.range(1000).select(F.col("id").alias("k"))
    plan = (cuckoo_jvm_filter(spark, filt, df, "k")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") == 2
    assert not re.findall(r"ArrowEval|BatchEval|MapInPandas|PythonUDF", plan)
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("xxhash64") == 2


def test_jvm_cuckoo_guards(spark):
    from cuckoofilter_spark.kernels.cuckoo import CuckooFilter, JvmCuckooFilter
    from cuckoofilter_spark.sketch.membership import (
        ShardedCuckooFilter, cuckoo_build, cuckoo_jvm_build,
        cuckoo_jvm_filter, cuckoo_jvm_flag)

    filt, _, _ = _jvm_cf(spark)
    # plain-kernel sharded filter refused (hash not JVM-expressible)
    keys = spark.range(100).select(F.col("id").alias("k"))
    plain = cuckoo_build(keys, "k", capacity=100, bits=12, seed=1,
                         num_shards=2)
    with pytest.raises(TypeError, match="cuckoo_jvm_build"):
        cuckoo_jvm_filter(spark, plain, keys, "k")
    # bits > 16 refused at build (word packing)
    with pytest.raises(ValueError, match="<= 16"):
        cuckoo_jvm_build(keys, "k", capacity=100, bits=32)
    # internal-name collision + flag-name collision refused
    df = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("_CF_SB"))
    with pytest.raises(ValueError, match="collide"):
        cuckoo_jvm_filter(spark, filt, df, "k")
    df2 = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("IS_MEMBER"))
    with pytest.raises(ValueError, match="already present"):
        cuckoo_jvm_flag(spark, filt, df2, "k")
    # string keys refused eagerly
    df3 = spark.range(5).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(TypeError, match="integer"):
        cuckoo_jvm_filter(spark, filt, df3, "k")
    # blob identity: JVM blobs refuse to load as the plain kernel
    blob = filt.blobs[0]
    assert JvmCuckooFilter.from_bytes(blob) is not None
    with pytest.raises(ValueError, match="header"):
        CuckooFilter.from_bytes(blob)
    # cross-class merge refused (params carry the class name)
    a = CuckooFilter.create(100, bits=12, seed=1)
    b = JvmCuckooFilter(a.num_buckets, a.bits, a.seed, a.capacity)
    with pytest.raises(ValueError, match="incompatible"):
        CuckooFilter.merge(a, b)


def test_jvm_cuckoo_pandas_path_matches_jvm_path(spark):
    """The pandas blob probe (cuckoo_contains_col now threads the
    kernel class by name) and the JVM semi-join agree on the same
    sharded JVM filter."""
    from cuckoofilter_spark.sketch.membership import (
        cuckoo_contains_col, cuckoo_jvm_filter)

    filt, members, rng = _jvm_cf(spark, bits=12, n=20000)
    probes = np.unique(np.concatenate([
        members[:3000], rng.integers(0, 1 << 62, 20000, dtype=np.int64)]))
    pdf = spark.createDataFrame([(int(x),) for x in probes], "k long")
    via_pandas = {r["k"] for r in pdf.withColumn(
        "hit", cuckoo_contains_col(spark, filt, "k")).where("hit").collect()}
    via_jvm = {r["k"] for r in cuckoo_jvm_filter(spark, filt, pdf, "k").collect()}
    assert via_pandas == via_jvm
    assert {int(m) for m in members[:3000]} <= via_jvm  # no false negatives


# ---------------------------------------------------------------------------
# priority_sample: DLT weighted sampling (round-5 session 5)
# ---------------------------------------------------------------------------
def test_priority_sample_salted_matches_plain(spark):
    from cuckoofilter_spark.ops.packing import priority_sample

    d = spark.read.parquet(f"{SF}/documents.parquet")
    cols = ["source", "doc_id", "_w", "_s", "rk", "in_sample"]
    plain = priority_sample(d, "doc_id", "n_chars", "source", k=7)
    salted = priority_sample(d, "doc_id", "n_chars", "source", k=7,
                             salt_buckets=5)
    a = sorted(map(tuple, plain.select(*cols).collect()))
    b = sorted(map(tuple, salted.select(*cols).collect()))
    assert a == b and len(a) > 0


def test_priority_sample_shape_and_weight_bias(spark):
    from cuckoofilter_spark.ops.packing import priority_sample

    # one stratum, 200 heavy rows (w=500) + 200 light rows (w=1):
    # P(heavy beats light) = 500/501 per pair, so the top-32 should be
    # almost entirely heavy under any uniform hash draw
    rows = [(i, 500 if i < 200 else 1, "s") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, wgt long, grp string")
    out = priority_sample(df, "id", "wgt", "grp", k=32).collect()
    assert len(out) == 33  # k sample rows + the threshold row
    ranks = {r["rk"] for r in out}
    assert ranks == set(range(1, 34))
    samp = [r for r in out if r["in_sample"]]
    assert len(samp) == 32
    heavy = sum(1 for r in samp if r["_w"] == 500)
    assert heavy >= 30, f"weighted sample should prefer heavy rows: {heavy}"
    # strata smaller than k keep everything, in_sample all true
    tiny = spark.createDataFrame([(1, 5, "t"), (2, 9, "t")],
                                 "id long, wgt long, grp string")
    t = priority_sample(tiny, "id", "wgt", "grp", k=32).collect()
    assert len(t) == 2 and all(r["in_sample"] for r in t)


def test_priority_sample_guards(spark):
    from cuckoofilter_spark.ops.packing import priority_sample

    df = spark.createDataFrame([(1, 2, "a")], "id long, rk long, grp string")
    with pytest.raises(ValueError, match="rk"):
        priority_sample(df, "id", "rk", "grp", k=3)
    ok = spark.createDataFrame([(1, 2, "a")], "id long, w long, grp string")
    with pytest.raises(ValueError, match="k must be positive"):
        priority_sample(ok, "id", "w", "grp", k=0)


# ---------------------------------------------------------------------------
# embedding_centroids: integer micro-unit IVF-cell stats (r5 session 5)
# ---------------------------------------------------------------------------
def test_embedding_centroids_matches_numpy(spark):
    from cuckoofilter_spark.ops.similarity import embedding_centroids

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {(r["label"], r["dim"]): (r["n_vecs"], r["centroid_micro"],
                                    r["var_micro2"])
           for r in embedding_centroids(e, "embedding", "label").collect()}
    pdf = e.toPandas()
    import numpy as np
    want = {}
    for label, g in pdf.groupby("label"):
        m = np.stack(g["embedding"].to_numpy())
        # quantize exactly as the op does: round half away from zero of
        # the widened double (np.round is half-to-even — use floor(x+.5)
        # on the sign-folded value instead)
        x = m.astype(np.float64) * 1e6
        xm = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(object)
        n = xm.shape[0]
        for dim in range(xm.shape[1]):
            col = [int(v) for v in xm[:, dim]]
            sx, sxx = sum(col), sum(v * v for v in col)
            want[(int(label), dim)] = (
                n,
                int(sx // n) if sx >= 0 else -int(-sx // n),
                int((n * sxx - sx * sx) // (n * n)))
    assert got == want


def test_embedding_centroids_single_exchange(spark):
    from cuckoofilter_spark.ops.similarity import embedding_centroids

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = embedding_centroids(e, "embedding", "label") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Generate" in plan  # posexplode stays JVM-side
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_priority_sample_plan_shape(spark):
    from cuckoofilter_spark.ops.packing import priority_sample

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = priority_sample(d, "doc_id", "n_chars", "source", k=7,
                          salt_buckets=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (stratum, salt) exchange + stratum exchange; the final bounded
    # rank window REUSES the stratum partitioning (no third exchange)
    assert plan.count("Exchange") == 2, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_priority_sample_dlt_estimator(spark):
    """The statistical payoff of DLT priority sampling (Duffield-Lund-
    Thorup, JACM 2007): with tau = the rank-(k+1) priority, the
    estimator sum(max(w_i, tau)) over the k sampled rows is an
    unbiased estimate of the stratum's TOTAL weight. Our sort key is
    the quantized inverse priority s = floor(u_int * 1024 / w) with
    u = u_int / 2^52, so tau = w/u recovers as 2^52 * 1024 / s_(k+1).
    Deterministic given the hash — pinned within 15% of exact on a
    10k-row heavy-tailed stratum at k=64 (never flakes)."""
    from cuckoofilter_spark.ops.packing import priority_sample

    rows = [(i, (i % 97) ** 2 + 1, "s") for i in range(10_000)]
    df = spark.createDataFrame(rows, "id long, wgt long, grp string")
    exact = sum(w for _, w, _ in rows)
    out = priority_sample(df, "id", "wgt", "grp", k=64).collect()
    s_k1 = next(r["_s"] for r in out if r["rk"] == 65)
    tau = (1 << 52) * 1024.0 / s_k1
    est = sum(max(float(r["_w"]), tau) for r in out if r["in_sample"])
    assert abs(est - exact) / exact < 0.15, (est, exact)


def test_priority_sum_estimate_matches_manual(spark):
    """priority_sum_estimate == the manual DLT estimator computed from
    priority_sample's rows (same tau recovery, same micro-quantized
    max), and its estimate lands near the exact total (k=64 over a
    10k-row heavy-tailed stratum; deterministic, never flakes). Small
    strata (<= k rows) take the exhaustive branch: tau = 0, estimate
    exact."""
    from cuckoofilter_spark.ops.packing import (priority_sample,
                                                priority_sum_estimate)

    rows = [(i, (i % 97) ** 2 + 1, "s") for i in range(10_000)]
    rows += [(100_000 + i, 7, "tiny") for i in range(5)]
    df = spark.createDataFrame(rows, "id long, wgt long, grp string")
    got = {r["grp"]: r for r in
           priority_sum_estimate(df, "id", "wgt", "grp", k=64).collect()}

    samp = priority_sample(df, "id", "wgt", "grp", k=64).collect()
    s_k1 = next(r["_s"] for r in samp if r["grp"] == "s" and r["rk"] == 65)
    tau = float(1 << 62) / float(s_k1)
    # the op rounds HALF_UP; every value here is positive, so
    # floor(x + 0.5) matches it (Python's round() is half-to-even)
    want = sum(math.floor(max(float(r["_w"]), tau) * 1e6 + 0.5)
               for r in samp if r["grp"] == "s" and r["in_sample"])
    assert got["s"]["est_micro"] == want
    assert got["s"]["tau_micro"] == math.floor(tau * 1e6 + 0.5)
    assert got["s"]["n_rows"] == 64
    exact = sum(w for _, w, g in rows if g == "s")
    assert abs(got["s"]["est_micro"] / 1e6 - exact) / exact < 0.15
    # exhaustive stratum: exact sum, zero threshold
    assert got["tiny"]["n_rows"] == 5
    assert got["tiny"]["est_micro"] == 5 * 7 * 1_000_000
    assert got["tiny"]["tau_micro"] == 0
