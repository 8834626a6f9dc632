"""Round-4 surfaces: shard-partitioned probe (no whole-filter
broadcast), sharded xor build (no driver-side key set), skew-safe
dup_spans aggregate."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _probe_frames(spark, n_mem=20000, n_probe=40000):
    keys = spark.range(0, n_mem).select(F.col("id").alias("k"))
    probe = spark.range(0, n_probe).select(F.col("id").alias("k"))
    return keys, probe


FAMILIES = ["cuckoo", "cuckoo_jvm", "shingle", "tail", "crate", "xor_sharded"]


@pytest.mark.parametrize("kind", FAMILIES)
def test_contains_sharded_matches_broadcast(spark, kind):
    """The shard-partitioned probe answers bit-identically to the
    broadcast probe for every sharded family — same blobs, same hash
    route, different delivery (cogroup vs broadcast)."""
    from cuckoofilter_spark.sketch.api import (build_filter, contains_col,
                                               contains_sharded)

    keys, probe = _probe_frames(spark)
    filt = build_filter(keys, "k", kind=kind)
    b = [r["m"] for r in
         probe.withColumn("m", contains_col(spark, filt, "k"))
         .orderBy("k").collect()]
    s = [r["m"] for r in
         contains_sharded(probe, "k", filt, out_col="m")
         .orderBy("k").collect()]
    assert b == s
    assert all(b[:20000])  # no false negatives through either path
    fpr = sum(b[20000:]) / 20000
    assert fpr <= 3 * filt.expected_fpp() + 1e-3


def test_shard_col_bitexact_with_shard_of(spark):
    """The JVM shard route (F.xxhash64 & mask) must equal numpy
    shard_of for every key pattern — including negative int64, the
    adversarial extremes, and int32 inputs (cast to long first)."""
    from cuckoofilter_spark.kernels.hashing import xxhash64_long
    from cuckoofilter_spark.sketch.membership import shard_of

    ks = np.concatenate([
        np.arange(-500, 500, dtype=np.int64),
        np.array([0, 1, -1, 2**63 - 1, -2**63, 0x5EED], dtype=np.int64),
        (np.uint64(0x9E3779B97F4A7C15)
         * np.arange(100, dtype=np.uint64)).view(np.int64),
    ])
    df = spark.createDataFrame([(int(k),) for k in ks], "k long")
    got = {r["k"]: r["h"] for r in df.select(
        "k", F.xxhash64("k").alias("h")).collect()}
    mine = xxhash64_long(ks.view(np.uint64)).view(np.int64)
    assert all(got[int(k)] == int(m) for k, m in zip(ks, mine))
    for ns in (8, 32, 64):
        sh = shard_of(ks.view(np.uint64), ns)
        jvm = {r["k"]: r["s"] for r in df.select("k", F.xxhash64(
            F.col("k")).bitwiseAND(F.lit(ns - 1)).cast("int").alias("s"))
            .collect()}
        assert all(jvm[int(k)] == int(s) for k, s in zip(ks, sh))


def test_checkpoint_refuses_pre_xxh64_manifest(spark, tmp_path):
    """A checkpoint packed under the old splitmix64 shard routing (no
    shard_fn field in the manifest) must refuse to resume — resuming
    would mis-route every key."""
    import json

    from cuckoofilter_spark.plans.checkpoint import cuckoo_build_checkpointed

    ckpt = str(tmp_path / "ckpt")
    keys = spark.range(0, 1000).select(F.col("id").alias("k"))
    filt = cuckoo_build_checkpointed(spark, keys, "k", ckpt, capacity=1000)
    assert filt.contains_u64(np.arange(1000, dtype=np.uint64)).all()
    # forge a pre-switch manifest: drop the shard_fn field
    mpath = f"{ckpt}/manifest.json"
    m = json.load(open(mpath))
    del m["shard_fn"]
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="shard_fn"):
        cuckoo_build_checkpointed(spark, keys, "k", ckpt, capacity=1000)


def test_contains_sharded_never_broadcasts(spark):
    """The scale guarantee itself: the sharded probe never calls
    sc.broadcast — blobs travel as DataFrame rows through the cogroup
    exchange, one blob row to exactly its shard's task."""
    from cuckoofilter_spark.sketch.api import build_filter, contains_sharded

    keys, probe = _probe_frames(spark, 5000, 8000)
    filt = build_filter(keys, "k", kind="cuckoo", capacity=5000)
    sc = spark.sparkContext
    real = sc.broadcast

    def boom(*a, **kw):
        raise AssertionError("contains_sharded must not broadcast")

    sc.broadcast = boom
    try:
        out = contains_sharded(probe, "k", filt, out_col="m")
        hits = out.where("m").count()
    finally:
        sc.broadcast = real
    assert hits >= 5000  # all members + eps false positives


def test_contains_sharded_store_plan_zero_exchange(spark):
    """Plan shape of the store delivery (the local/shared-FS default):
    a plain ArrowEvalPython projection — NO exchange of any kind, no
    BroadcastExchange, no cogroup. Blobs travel via the store files,
    never through the plan."""
    from cuckoofilter_spark.sketch.api import build_filter, contains_sharded

    keys, probe = _probe_frames(spark, 2000, 2000)
    filt = build_filter(keys, "k", kind="cuckoo", capacity=2000)
    plan = (contains_sharded(probe, "k", filt, out_col="m")
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan  # covers Broadcast + shuffle
    assert "FlatMapCoGroupsIn" not in plan


def test_contains_sharded_cogroup_plan(spark):
    """Plan shape of the cogroup fallback (no shared FS): one
    FlatMapCoGroupsInArrow over hash exchanges on the shard id; no
    BroadcastExchange anywhere."""
    from cuckoofilter_spark.sketch.api import build_filter
    from cuckoofilter_spark.sketch.membership import \
        _contains_sharded_cogroup

    keys, probe = _probe_frames(spark, 2000, 2000)
    filt = build_filter(keys, "k", kind="cuckoo", capacity=2000)
    plan = (_contains_sharded_cogroup(probe, "k", filt, out_col="m")
            ._jdf.queryExecution().executedPlan().toString())
    assert "FlatMapCoGroupsInArrow" in plan
    assert "BroadcastExchange" not in plan


@pytest.mark.parametrize("kind", FAMILIES)
def test_cogroup_fallback_matches_store(spark, kind):
    """Both sharded deliveries answer bit-identically for every
    family — the cogroup fallback is the same route + same blobs."""
    from cuckoofilter_spark.sketch.api import build_filter, contains_sharded
    from cuckoofilter_spark.sketch.membership import \
        _contains_sharded_cogroup

    keys, probe = _probe_frames(spark, 3000, 6000)
    filt = build_filter(keys, "k", kind=kind)
    st = [r["m"] for r in contains_sharded(probe, "k", filt, out_col="m")
          .orderBy("k").collect()]
    cg = [r["m"] for r in _contains_sharded_cogroup(probe, "k", filt, "m")
          .orderBy("k").collect()]
    assert st == cg


def test_store_write_open_idempotent(spark, tmp_path):
    """Writing the same filter to the same path is a no-op; a DIFFERENT
    filter at that path refuses rather than silently overwriting; open()
    round-trips the manifest."""
    from cuckoofilter_spark.sketch.api import build_filter
    from cuckoofilter_spark.sketch.store import ShardBlobStore

    keys, _ = _probe_frames(spark, 1000, 1000)
    filt = build_filter(keys, "k", kind="cuckoo", capacity=1000)
    p = str(tmp_path / "store")
    s1 = ShardBlobStore.write(filt, p)
    s2 = ShardBlobStore.write(filt, p)
    assert s1.store_id == s2.store_id
    s3 = ShardBlobStore.open(p)
    assert s3.store_id == s1.store_id and s3.num_shards == filt.num_shards

    other = build_filter(
        spark.range(5000, 7000).select(F.col("id").alias("k")),
        "k", kind="cuckoo", capacity=2000)
    with pytest.raises(ValueError, match="different filter store"):
        ShardBlobStore.write(other, p)


def test_store_detects_tampered_shard(spark, tmp_path):
    """A shard blob modified after write fails its manifest sha check
    at probe time instead of silently answering from corrupt bits."""
    import glob
    import os

    from cuckoofilter_spark.sketch.api import build_filter
    from cuckoofilter_spark.sketch.store import ShardBlobStore, \
        contains_store

    keys, probe = _probe_frames(spark, 1000, 1000)
    filt = build_filter(keys, "k", kind="cuckoo", capacity=1000)
    p = str(tmp_path / "store")
    st = ShardBlobStore.write(filt, p)
    victim = sorted(glob.glob(os.path.join(p, "shard_*.blob")))[0]
    blob = bytearray(open(victim, "rb").read())
    blob[-1] ^= 0xFF
    open(victim, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="manifest sha"):
        contains_store(probe, "k", st, out_col="m").where("m").count()


def test_store_cache_cap_and_colocate(spark):
    """max_cached_shards=1 (worst-case thrash) and colocate=True both
    still answer identically to the unbounded store probe."""
    from cuckoofilter_spark.sketch.api import build_filter, contains_sharded

    keys, probe = _probe_frames(spark, 8000, 16000)
    filt = build_filter(keys, "k", kind="cuckoo", capacity=8000)
    base = [r["m"] for r in contains_sharded(probe, "k", filt, out_col="m")
            .orderBy("k").collect()]
    capped = [r["m"] for r in contains_sharded(
        probe, "k", filt, out_col="m", max_cached_shards=1)
        .orderBy("k").collect()]
    coloc = [r["m"] for r in contains_sharded(
        probe, "k", filt, out_col="m", colocate=True,
        max_cached_shards=2).orderBy("k").collect()]
    assert base == capped == coloc
    assert all(base[:8000])


def test_store_accepts_path_string(spark, tmp_path):
    """contains_store takes a bare path (probe from a session that
    never saw the build — the resume/cross-job form)."""
    from cuckoofilter_spark.sketch.api import build_filter
    from cuckoofilter_spark.sketch.store import ShardBlobStore, \
        contains_store

    keys, probe = _probe_frames(spark, 2000, 4000)
    filt = build_filter(keys, "k", kind="xor_sharded")
    p = str(tmp_path / "xstore")
    ShardBlobStore.write(filt, p)
    out = contains_store(probe, "k", p, out_col="m")
    got = [r["m"] for r in out.orderBy("k").collect()]
    assert all(got[:2000])
    assert sum(got[2000:]) / 2000 <= 3 * filt.expected_fpp() + 1e-3


def test_contains_sharded_preserves_columns(spark):
    """Extra fact-table columns ride through the cogroup unchanged."""
    from cuckoofilter_spark.sketch.api import build_filter, contains_sharded

    keys, _ = _probe_frames(spark, 1000, 1000)
    filt = build_filter(keys, "k", kind="cuckoo", capacity=1000)
    fact = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7).alias("payload"),
        F.concat(F.lit("row"), F.col("id")).alias("tag"))
    out = contains_sharded(fact, "k", filt, out_col="m")
    assert out.columns == ["k", "payload", "tag", "m"]
    rows = {r["k"]: r for r in out.collect()}
    assert len(rows) == 2000
    assert rows[42]["payload"] == 294 and rows[42]["tag"] == "row42"
    assert rows[42]["m"] is True


def test_sharded_xor_build_no_driver_key_set(spark):
    """xor_build_sharded must never materialize the distinct key set on
    the driver (the r3 scale-killer): distinct_keys_u64 is poisoned for
    the duration and the build must still succeed."""
    from cuckoofilter_spark.sketch import membership as mem

    keys, probe = _probe_frames(spark, 10000, 20000)
    real = mem.distinct_keys_u64

    def boom(*a, **kw):
        raise AssertionError("sharded xor build must not collect keys")

    mem.distinct_keys_u64 = boom
    try:
        filt = mem.xor_build_sharded(keys, "k", num_shards=16)
    finally:
        mem.distinct_keys_u64 = real
    got = filt.contains_u64(np.arange(20000, dtype=np.uint64))
    assert got[:10000].all()  # static filter: zero false negatives
    assert got[10000:].mean() <= 3 * filt.expected_fpp() + 1e-3
    # space parity with the driver-peel xor8 (~9.84 bits/item + shard
    # rounding slack)
    assert filt.bits_per_item() < 12.0


def test_sharded_xor_empty_and_skewed_shards(spark):
    """Tiny key sets leave most shards empty; each blob still probes."""
    from cuckoofilter_spark.sketch.membership import xor_build_sharded

    keys = spark.range(0, 5).select(F.col("id").alias("k"))
    filt = xor_build_sharded(keys, "k", num_shards=32)
    got = filt.contains_u64(np.arange(50, dtype=np.uint64))
    assert got[:5].all()
    assert got[5:].sum() <= 3  # eps-level noise only


def test_contamination_check_sharded_no_driver_collect(spark):
    """contamination_check's default family is now the sharded xor:
    the driver-peel path (distinct_keys_u64) must never run."""
    from cuckoofilter_spark.ops.dedup import contamination_check
    from cuckoofilter_spark.sketch import membership as mem

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 4 + f"doc {i}") for i in range(40)],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "alpha beta gamma delta " * 4),  # fully contaminated
         (101, "zeta eta theta iota kappa " * 4)],  # clean
        "doc_id long, text string")
    real = mem.distinct_keys_u64

    def boom(*a, **kw):
        raise AssertionError("contamination_check must not collect keys")

    mem.distinct_keys_u64 = boom
    try:
        out = {r["doc"]: r for r in contamination_check(
            train, test, "doc_id", "text", k=4).collect()}
    finally:
        mem.distinct_keys_u64 = real
    # contaminated doc: every 4-gram of the repeated phrase is in train
    assert out[100]["amq_frac_e6"] == 1_000_000
    # clean doc: no false negatives needed; FP-bounded overcount only
    assert out[101]["amq_hit_grams"] <= max(3, len(out) * 2)


def test_contamination_fp_bound_3sigma(spark):
    """The statistically tight FP bound (3 sigma) as a pytest
    invariant — the driver gate's amq_fp_ok flag uses a fatter
    deterministic-ish slack (ADVICE r3: a gate constant must not
    flake), so the tight check lives here where a failure is visible
    as a seed/data regression, not a red gate row."""
    from cuckoofilter_spark.ops.dedup import contamination_check, \
        word_gram_hashes

    rng = np.random.default_rng(7)
    train = spark.createDataFrame(
        [(i, " ".join(str(x) for x in rng.integers(0, 5000, 60)))
         for i in range(200)], "doc_id long, text string")
    test = spark.createDataFrame(
        [(1000 + i, " ".join(str(x) for x in rng.integers(6000, 12000, 60)))
         for i in range(50)], "doc_id long, text string")
    out = contamination_check(train, test, "doc_id", "text", k=4)
    agg = out.agg(F.sum("n_grams").alias("n"),
                  F.sum("amq_hit_grams").alias("fp")).collect()[0]
    eps = 2.0 ** -8  # xor8
    mu = eps * agg["n"]
    assert agg["fp"] <= mu + 3 * np.sqrt(mu) + 3


def test_dup_spans_no_window_and_hot_gram_bounded(spark):
    """The min_docs=2 path is pure hash aggregates (no WindowExec to
    serialize a hot gram's group into one task), and a planted
    boilerplate gram shared by every doc is still counted exactly."""
    from cuckoofilter_spark.ops.dedup import cross_doc_duplicate_grams

    boiler = "copyright notice all rights reserved"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} body{i} text{i} content{i}")
         for i in range(500)], "doc_id long, text string")
    out = cross_doc_duplicate_grams(docs, "doc_id", "text", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    rows = {r["doc"]: r for r in out.collect()}
    assert len(rows) == 500
    # each doc has 5 grams (9 words, k=5); the first gram (pure
    # boilerplate) is shared by all 500 docs, the rest are unique
    r0 = rows[0]
    assert r0["n_grams"] == 5 and r0["dup_grams"] == 1
    assert r0["dup_frac_e6"] == 200000


@pytest.mark.parametrize("cls_name,bpk,bits_expected", [
    ("BlockedBloomFilter64", 12, None),   # pow2-rounded 64B blocks
    ("FixedBlockedBloomFilter", 12, 12.0),  # exact non-pow2 spend
])
def test_blocked_bloom_variants_kernel(cls_name, bpk, bits_expected):
    """SimdBlockFilter64 (simd-block.h:213-375) and SimdBlockFilterFixed
    (simd-block-fixed-fpp.h:43-138) re-expressions: no false negatives,
    fpp in the published neighborhood, blob round-trip, exact merge
    associativity, and — for the fixed variant — bits/item spent
    EXACTLY as asked (no pow2 round)."""
    import numpy as np

    from cuckoofilter_spark.kernels import blocked_bloom as bb

    cls = getattr(bb, cls_name)
    n = 200_000
    f = cls.create(n, seed=0x5EED, bits_per_key=bpk)
    keys = np.arange(n, dtype=np.uint64)
    f.add_many(keys)
    assert f.contains_many(keys).all()
    neg = np.arange(n, n + 500_000, dtype=np.uint64)
    fp = f.contains_many(neg).mean()
    assert fp < 0.02, (cls_name, fp)  # published tables: sub-1% regime
    if bits_expected is not None:
        bpi = 8.0 * f.size_in_bytes() / n
        assert abs(bpi - bits_expected) < 0.02  # whole-bucket round only
        assert f.num_buckets & (f.num_buckets - 1)  # genuinely non-pow2
    g = cls.from_bytes(f.to_bytes())
    assert (g.buckets == f.buckets).all()
    assert g.contains_many(keys[:5000]).all()
    a, b, c = (cls(f.num_buckets, f.seed) for _ in range(3))
    a.add_many(keys[:500]); b.add_many(keys[500:1000]); c.add_many(keys[1000:1500])
    m1, m2 = cls.merge(cls.merge(a, b), c), cls.merge(a, cls.merge(b, c))
    assert (m1.buckets == m2.buckets).all()
    with pytest.raises(ValueError, match="incompatible"):
        cls.merge(f, cls(f.num_buckets * 2, f.seed))


def test_blocked_bloom64_one_bit_per_u64_lane(spark):
    """Structure check: each add sets at most 8 bits, exactly one per
    64-bit lane of the 64-byte block (simd-block.h MakeMask out1/out2
    shape)."""
    import numpy as np

    from cuckoofilter_spark.kernels.blocked_bloom import BlockedBloomFilter64

    f = BlockedBloomFilter64(64, seed=1)
    f.add_many(np.array([12345], dtype=np.uint64))
    nz = f.buckets[f.buckets.any(axis=1)]
    assert nz.shape == (1, 8)
    # one bit per lane: every lane is a power of two
    assert all(int(x) & (int(x) - 1) == 0 and x > 0 for x in nz[0])


@pytest.mark.parametrize("bits", [5, 6, 7, 8, 9, 13, 17])
def test_semisort_width_sweep(bits):
    """PackedTable codec at every reference-enumerated tag width
    (packedtable.h:128-191 cases 5,6,7,8,9,13,17): blob size is exactly
    ceil(num_buckets * (12 + 4*(bits-4)) / 8), round-trip preserves the
    canonical bucket, and a built filter answers identically after
    serialize/deserialize (including the odd bit-packed widths 6, 8)."""
    import numpy as np

    from cuckoofilter_spark.kernels.cuckoo import CuckooFilter
    from cuckoofilter_spark.kernels.packed import (bucket_bits,
                                                   pack_buckets, sort_tags,
                                                   unpack_buckets)

    rng = np.random.default_rng(bits)
    nb = 2048
    tags = rng.integers(0, 1 << bits, size=(nb, 4)).astype(np.uint32)
    blob = pack_buckets(tags, bits)
    assert len(blob) == (nb * bucket_bits(bits) + 7) // 8
    assert (unpack_buckets(blob, nb, bits).astype(np.uint32)
            == sort_tags(tags)).all()

    f = CuckooFilter.create(8000, bits=bits, mode="semisort", seed=7)
    keys = np.arange(8000, dtype=np.uint64)
    f.add_many(keys)
    assert f.contains_many(keys).all()
    g = CuckooFilter.from_bytes(f.to_bytes())
    neg = np.arange(10**6, 10**6 + 100_000, dtype=np.uint64)
    assert (g.contains_many(neg) == f.contains_many(neg)).all()
    assert g.contains_many(keys).all()


def test_semisort_rejects_unenumerated_width():
    from cuckoofilter_spark.kernels.cuckoo import CuckooFilter

    with pytest.raises(ValueError, match="semisort"):
        CuckooFilter.create(1000, bits=10, mode="semisort")
    with pytest.raises(ValueError, match="semisort"):
        CuckooFilter.create(1000, bits=9, mode="single")


def test_streaming_state_envelope_not_pickle(spark, tmp_path):
    """The state file is a non-executable envelope: magic + JSON header
    + raw kernel blobs. Loading must never unpickle (a writable state
    dir must not be a code-execution vector — ADVICE r3)."""
    import numpy as np

    from cuckoofilter_spark.streaming.sketch_stream import \
        StreamingSketchState

    st = StreamingSketchState(str(tmp_path / "hll"), "hll", "tokens",
                              p=12, seed=7)
    df = spark.createDataFrame(
        [(i, [i, i + 1, i + 2]) for i in range(500)],
        "doc_id long, tokens array<int>")
    st.update(df, 0)
    raw = open(st._state_path(), "rb").read()
    assert raw[:4] == b"CFS1"
    assert b"pickle" not in raw[:200]
    got = st.load()
    assert abs(got.estimate() - 502) / 502 < 0.05
    # replay guard survives the envelope round-trip
    assert st.last_batch_id() == 0
    st.update(df, 0)  # replay: must be a no-op
    assert abs(st.load().estimate() - got.estimate()) < 1e-9


def test_streaming_state_refuses_legacy_pickle(tmp_path):
    """A leftover state.pkl from the previous on-disk format raises
    instead of being silently treated as empty (ADVICE r3: the Spark
    checkpoint blocks re-replaying committed batches, so 'empty' means
    silent state loss)."""
    import pickle

    from cuckoofilter_spark.streaming.sketch_stream import (
        StreamingSketchState, migrate_legacy_pickle_state)
    from cuckoofilter_spark.kernels.hll import HyperLogLog

    d = tmp_path / "hll"
    d.mkdir()
    h = HyperLogLog(p=12, seed=7)
    import numpy as np
    h.add_many(np.arange(1000, dtype=np.uint64))
    (d / "state.pkl").write_bytes(
        pickle.dumps({"batch_id": 3, "blob": h.to_bytes()}))
    (d / "state.json").write_text(
        '{"batch_id": 3, "kind": "hll", "col": "tokens"}')
    st = StreamingSketchState(str(d), "hll", "tokens", p=12, seed=7)
    with pytest.raises(RuntimeError, match="legacy sketch state"):
        st.last_batch_id()
    # explicit migration converts and unblocks
    migrate_legacy_pickle_state(str(d))
    assert st.last_batch_id() == 3
    assert abs(st.load().estimate() - h.estimate()) < 1e-9


def test_grouped_streaming_state_key_types(spark, tmp_path):
    """Grouped envelope keys round-trip with their original types
    (str and int group keys; big int64 keys survive exactly)."""
    from cuckoofilter_spark.streaming.sketch_stream import \
        GroupedStreamingSketchState

    big = 2**60 + 7
    df = spark.createDataFrame(
        [(big, [1, 2, 3]), (big, [2, 3, 4]), (5, [9, 10, 11])],
        "src long, tokens array<int>")
    st = GroupedStreamingSketchState(str(tmp_path / "g"), "hll",
                                     "src", "tokens", p=12, seed=7)
    st.update(df, 0)
    got = st.load()
    assert set(got) == {big, 5}
    assert all(type(k) is int for k in got)


def test_dup_spans_min_docs_general(spark):
    """min_docs > 2 through the same unified aggregate path."""
    from cuckoofilter_spark.ops.dedup import cross_doc_duplicate_grams

    docs = spark.createDataFrame(
        [(1, "a b c d e shared phrase here now ok"),
         (2, "f g h i j shared phrase here now ok"),
         (3, "k l m n o shared phrase here now ok"),
         (4, "p q r s t unique tail words go here")],
        "doc_id long, text string")
    out3 = {r["doc"]: r["dup_grams"] for r in cross_doc_duplicate_grams(
        docs, "doc_id", "text", k=5, min_docs=3).collect()}
    out2 = {r["doc"]: r["dup_grams"] for r in cross_doc_duplicate_grams(
        docs, "doc_id", "text", k=5, min_docs=2).collect()}
    # grams fully inside "shared phrase here now ok" appear in 3 docs
    assert out3[1] >= 1 and out3[4] == 0
    assert all(out2[d] >= out3[d] for d in out2)


# -- QuotientDysect standalone multimap (round 4, VERDICT #9) --------------

def _dict_oracle(pairs):
    d = {}
    for k, v in pairs:
        d.setdefault(k, []).append(v)
    return {k: sorted(vs) for k, vs in d.items()}


def test_multimap_kernel_matches_dict():
    """Batch Find == a plain dict-of-lists over the same Inserts
    (quotient-dysect.hpp:134-397 semantics; values canonical-sorted,
    duplicate pairs kept)."""
    from cuckoofilter_spark.kernels.dysect import QuotientMultimap

    rng = np.random.default_rng(7)
    keys = rng.integers(0, 500, size=5000, dtype=np.uint64)
    vals = rng.integers(0, 2**64, size=5000, dtype=np.uint64)
    # plant duplicate pairs
    keys[100:120], vals[100:120] = keys[0:20], vals[0:20]
    mm = QuotientMultimap.from_pairs(keys, vals)
    oracle = _dict_oracle(zip(keys.tolist(), vals.tolist()))

    probe = np.arange(0, 700, dtype=np.uint64)  # hits + misses
    counts, flat = mm.get_many(probe)
    cum = np.concatenate([[0], np.cumsum(counts)])
    for i, k in enumerate(probe.tolist()):
        got = flat[cum[i]:cum[i + 1]].tolist()
        assert got == oracle.get(k, []), k
    assert mm.num_items() == 5000
    assert mm.contains_many(probe).tolist() == [
        k in oracle for k in probe.tolist()]
    assert mm.count_many(probe).tolist() == [
        len(oracle.get(k, [])) for k in probe.tolist()]


def test_multimap_blob_roundtrip_and_merge():
    """to_bytes/from_bytes identity; merge is associative-commutative
    and content-canonical (blob equality, the repo-wide convention)."""
    from cuckoofilter_spark.kernels.dysect import QuotientMultimap

    rng = np.random.default_rng(11)
    parts = []
    for i in range(3):
        k = rng.integers(0, 200, size=800, dtype=np.uint64)
        v = rng.integers(0, 2**64, size=800, dtype=np.uint64)
        parts.append(QuotientMultimap.from_pairs(k, v))
    a, b, c = parts
    rt = QuotientMultimap.from_bytes(a.to_bytes())
    assert rt.to_bytes() == a.to_bytes()

    m1 = QuotientMultimap.merge(QuotientMultimap.merge(a, b), c)
    m2 = QuotientMultimap.merge(a, QuotientMultimap.merge(c, b))
    assert m1.to_bytes() == m2.to_bytes()
    assert m1.num_items() == 2400

    e = QuotientMultimap.empty()
    assert QuotientMultimap.merge(a, e).to_bytes() == a.to_bytes()
    assert e.num_items() == 0 and e.count_many(
        np.array([1], dtype=np.uint64)).tolist() == [0]


def test_multimap_spark_build_matches_join(spark):
    """Distributed build + broadcast Find == the exact inner join,
    including duplicate pairs and >2^53 / negative int64 values."""
    from cuckoofilter_spark.sketch.multimap import (
        multimap_build, multimap_count_col, multimap_values_col)

    pairs = spark.range(0, 30000).select(
        (F.col("id") % 997).alias("k"),
        # values spread across the full int64 range incl. negatives
        (F.xxhash64(F.col("id") % 6000)).alias("v")).repartition(8)
    mm = multimap_build(pairs, "k", "v", num_shards=8)
    assert mm.num_items() == 30000

    probe = spark.range(0, 1500).select(F.col("id").alias("pk"))
    got = (probe.select("pk", F.explode(
        multimap_values_col(spark, mm, "pk")).alias("v"))
           .collect())
    exact = (probe.join(pairs, probe.pk == pairs.k)
             .select("pk", "v").collect())
    assert sorted((r["pk"], r["v"]) for r in got) == sorted(
        (r["pk"], r["v"]) for r in exact)

    cnt = {r["pk"]: r["c"] for r in probe.withColumn(
        "c", multimap_count_col(spark, mm, "pk")).collect()}
    from collections import Counter
    exact_cnt = Counter(r["pk"] for r in exact)
    assert all(cnt[k] == exact_cnt.get(k, 0) for k in cnt)


def test_gcs_windowed_probe_matches_bitloop():
    """The single-gather windowed Rice decode answers bit-identically
    to the per-bit reference loop, across fpp widths and including the
    fallback envelope (log2bucket=6 exceeds the 57-bit single-window
    reach at k=16, so contains_many must route to the bit loop)."""
    from cuckoofilter_spark.kernels.gcs import GcsFilter

    rng = np.random.default_rng(5)
    keys = np.unique(rng.integers(0, 2**64, size=60000, dtype=np.uint64))
    probe = np.concatenate([keys[:20000],
                            rng.integers(0, 2**64, size=20000,
                                         dtype=np.uint64)])
    for log2fpp, log2bucket in ((8, 4), (10, 4), (14, 5), (16, 6)):
        f = GcsFilter.build(keys, log2fpp=log2fpp, log2bucket=log2bucket,
                            seed=0x5EED, layout=2)
        a = f._contains_windowed(probe) if (
            (1 << log2bucket) + 1 + log2fpp <= 57 and log2fpp <= 16) else None
        b = f._contains_bitloop(probe)
        got = f.contains_many(probe)
        assert (got == b).all(), (log2fpp, log2bucket)
        if a is not None:
            assert (a == b).all(), (log2fpp, log2bucket)
        assert got[:20000].all()  # no false negatives


def test_multimap_sharded_lookup_matches_broadcast(spark):
    """The shard-partitioned Find (cogroup delivery, no broadcast)
    returns the same multiset as the broadcast explode — and never
    calls sc.broadcast."""
    from cuckoofilter_spark.sketch.multimap import (
        multimap_build, multimap_lookup_sharded, multimap_values_col)

    pairs = spark.range(0, 20000).select(
        (F.col("id") % 499).alias("k"),
        F.xxhash64("id").alias("v")).repartition(6)
    mm = multimap_build(pairs, "k", "v", num_shards=8)
    probe = spark.range(0, 800).select(F.col("id").alias("pk"))

    bcast = sorted((r["pk"], r["v"]) for r in probe.select(
        "pk", F.explode(multimap_values_col(spark, mm, "pk")).alias("v"))
        .collect())

    sc = spark.sparkContext
    real = sc.broadcast

    def boom(*a, **kw):
        raise AssertionError("multimap_lookup_sharded must not broadcast")

    sc.broadcast = boom
    try:
        sharded = sorted((r["pk"], r["mm_val"]) for r in
                         multimap_lookup_sharded(probe, "pk", mm).collect())
    finally:
        sc.broadcast = real
    assert sharded == bcast
    assert len(sharded) == 20000  # every pair's key is < 499 < 800


def test_sharded_probe_null_keys_consistent(spark):
    """NULL probe keys get the SAME treatment on every delivery: each
    answers a NULL as key 0 (``keys_u64`` decodes NULL to 0 and
    ``shard_col`` routes it to key 0's shard), so broadcast, store and
    cogroup paths agree with a coalesced probe — no path may silently
    answer from a mis-routed shard."""
    from cuckoofilter_spark.sketch.api import (build_filter, contains_col,
                                               contains_sharded)
    from cuckoofilter_spark.sketch.membership import \
        _contains_sharded_cogroup

    keys = spark.range(0, 5000).select(F.col("id").alias("k"))  # incl. 0
    filt = build_filter(keys, "k", kind="cuckoo")
    probe = spark.createDataFrame(
        [(None,), (0,), (1,), (999999,)], "k long")

    def answers(df):
        return [sorted((-1 if r["k"] is None else r["k"], r["m"])
                       for r in out.collect()) for out in (
            df.withColumn("m", contains_col(spark, filt, "k")),
            contains_sharded(df, "k", filt, out_col="m"),
            _contains_sharded_cogroup(df, "k", filt, out_col="m"))]

    b, s, c = answers(probe)
    assert b == s == c
    assert b[0] == (-1, True)  # NULL answered as key 0, a member
    cp = probe.select(F.coalesce("k", F.lit(0)).alias("k"))
    cb, cs, cc = answers(cp)
    assert cb == cs == cc
    assert [m for _, m in b] == [m for _, m in cb]
    assert cb[0] == (0, True)


# -- pd_find alternates pairwise-equal (crate.h:380-387 check_pd) ------------
def test_crate_pd_find_variants_pairwise_equal():
    """The reference asserts its five pd_find_50 probe alternates agree
    on every (quot, rem, pd) (crate.h:380-387). The batch analogue:
    the select-based and tzcnt-based block probes and the
    searchsorted-over-triples probe must answer identically on present
    keys, absent keys, and same-bucket near-misses, at loads from
    near-empty through spare spill and through a merge (overflow
    triples past 51/bucket)."""
    from cuckoofilter_spark.kernels.crate import CrateFilter
    from cuckoofilter_spark.kernels.hashing import splitmix64

    rng = np.random.default_rng(7)
    for n in (30, 2_000, 60_000):
        keys = splitmix64(np.arange(1, n + 1, dtype=np.uint64))
        f = CrateFilter(add_count=max(44, n // 2))  # overfull -> spare
        f.add_many(keys)
        absent = splitmix64(rng.integers(1 << 40, 1 << 62, size=n,
                                         dtype=np.uint64))
        # same-bucket near-misses: flip only the rem byte (bits 32..39)
        near = keys ^ (rng.integers(1, 256, size=n, dtype=np.uint64)
                       << np.uint64(32))
        probes = np.concatenate([keys, absent, near])
        base = f.contains_many(probes)
        assert base[:n].all()
        np.testing.assert_array_equal(
            f.contains_many_pd(probes, variant="select"), base)
        np.testing.assert_array_equal(
            f.contains_many_pd(probes, variant="tzcnt"), base)

    # merged filter: overflow triples live outside the PD blocks
    ka = splitmix64(np.arange(1, 5_001, dtype=np.uint64))
    kb = splitmix64(np.arange(5_001, 10_001, dtype=np.uint64))
    a = CrateFilter(add_count=5_000)
    b = CrateFilter(add_count=5_000)
    a.add_many(ka)
    b.add_many(kb)
    m = CrateFilter.merge(a, b)
    probes = np.concatenate([ka, kb, splitmix64(
        rng.integers(1 << 40, 1 << 62, size=10_000, dtype=np.uint64))])
    base = m.contains_many(probes)
    assert base[:10_000].all()
    np.testing.assert_array_equal(
        m.contains_many_pd(probes, variant="select"), base)
    np.testing.assert_array_equal(
        m.contains_many_pd(probes, variant="tzcnt"), base)

    with pytest.raises(ValueError, match="variant"):
        CrateFilter(add_count=44).contains_many_pd(
            np.array([1], dtype=np.uint64), variant="avx")


def test_bigram_pmi_semantics(spark):
    """Hand-checkable corpus: PMI in exact integer micro-nats, rank
    ties broken on (x, y) ascending, min_count floor applied, and
    NULL/empty/single-token docs contribute nothing."""
    import math

    from cuckoofilter_spark.ops.text import bigram_pmi

    docs = [(1, "a b a b a b"),   # a x3 b x3; ab x3, ba x2
            (2, "c c c"),         # c x3; cc x2
            (3, None), (4, ""), (5, "x")]  # no bigrams
    out = bigram_pmi(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "text", min_count=2, top_k=10).collect()
    n_uni, n_bi = 10, 7
    pmi = lambda cxy, cx, cy: round(
        math.log(cxy * n_uni * n_uni / (n_bi * cx * cy)) * 1e6)
    # ab beats the (ba, cc) tie; the tie breaks on x asc: ba then cc
    assert [(r["x"], r["y"], r["c_xy"], r["pmi_e6"]) for r in out] == [
        ("a", "b", 3, pmi(3, 3, 3)),
        ("b", "a", 2, pmi(2, 3, 3)),
        ("c", "c", 2, pmi(2, 3, 3)),
    ]
    # min_count floors out every pair when raised above the max count
    assert bigram_pmi(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "text", min_count=4, top_k=10).count() == 0


def test_temperature_resample_semantics(spark):
    """Hand-checkable mix: stratum A (64 rows) vs B (4 rows), budget
    1/2. w_A = 8*2^20, w_B = 2*2^20, S = 10*2^20; p_A = 34*w_A/(S*64)
    = 0.425, p_B = 1.7 -> capped at 1 (B keeps ALL rows — the
    low-resource upsample direction). The kept set replicates a pure
    Python md5 threshold exactly; NULL-stratum rows are sampled too."""
    import hashlib
    import math
    import struct

    from cuckoofilter_spark.ops.packing import temperature_resample

    rows = ([(i, "A") for i in range(64)] + [(i, "B") for i in range(64, 68)]
            + [(100 + i, None) for i in range(8)])
    df = spark.createDataFrame(rows, "id long, s string")
    kept = {(r["id"], r["s"]) for r in
            temperature_resample(df, "id", "s", 1, 2).collect()}

    def u62(i):
        h = hashlib.md5(f"{i}#temp".encode()).digest()
        return struct.unpack("<Q", h[:8])[0] & ((1 << 62) - 1)

    n = 76
    w = {"A": math.floor(math.sqrt(64) * (1 << 20)),
         "B": math.floor(math.sqrt(4) * (1 << 20)),
         None: math.floor(math.sqrt(8) * (1 << 20))}
    S = sum(w.values())
    th = {k: math.floor(min(1.0, 1.0 * n * w[k] / (2.0 * S) / c) * (1 << 62))
          for k, c in (("A", 64), ("B", 4), (None, 8))}
    exp = {(i, st) for i, st in rows if u62(i) < th[st]}
    assert kept == exp
    # the capped stratum keeps every row
    assert th["B"] == 1 << 62
    assert {(i, st) for i, st in rows if st == "B"} <= kept


def test_vocab_growth_and_keyness_semantics(spark):
    """Hand-checkable two-group corpus: exact token/type/hapax panel
    and the PMI keyness signature (over-represented word per group)."""
    import math

    from cuckoofilter_spark.ops.text import group_keyness, vocab_growth

    df = spark.createDataFrame(
        [("A", "x x x y"), ("B", "y y y x"), ("B", None)],
        "grp string, text string")
    vg = {r["grp"]: r for r in vocab_growth(df, "text", "grp").collect()}
    assert (vg["A"]["n_tokens"], vg["A"]["n_types"], vg["A"]["hapax"]) == (4, 2, 1)
    assert vg["A"]["ttr_e6"] == 500000 and vg["A"]["hapax_e6"] == 500000
    assert (vg["B"]["n_tokens"], vg["B"]["n_types"], vg["B"]["hapax"]) == (4, 2, 1)

    ks = group_keyness(df, "text", "grp", top_k=1).collect()
    e6 = round(math.log(3 * 8 / (4 * 4)) * 1e6)  # ln(1.5) in micro-nats
    assert [(r["grp"], r["w"], r["c_gw"], r["keyness_e6"]) for r in ks] == [
        ("A", "x", 3, e6), ("B", "y", 3, e6)]


def test_group_minhash_similarity_semantics(spark):
    """Identical groups estimate Jaccard 1, disjoint groups 0, and a
    signature slot replicates the pure-Python md5 chain exactly (the
    oracle's recipe, independent of DuckDB)."""
    import hashlib
    import struct

    from cuckoofilter_spark.ops.dedup import group_minhash_similarity

    txt = "a b c d e f g h"
    rows = [("A", txt), ("B", txt),                 # identical sets
            ("C", "q r s t u v w x y z q2 r2")]    # disjoint from A/B
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r["src_a"], r["src_b"]): r for r in
           group_minhash_similarity(df, "source", "text",
                                    num_hashes=16).collect()}
    assert out[("A", "B")]["jaccard_e6"] == 1_000_000
    assert out[("A", "C")]["matches"] == 0
    assert out[("B", "C")]["matches"] == 0

    # pure-Python slot replication for group A, slot 0 (the oracle's
    # exact recipe: one md5-LE64 per shingle, 31-bit-half permutation)
    from cuckoofilter_spark.ops.dedup import _slot_multipliers, shingle_sets
    from cuckoofilter_spark.ops.text import md5hex_to_le64
    from pyspark.sql import functions as F

    a_mul, b_mul = _slot_multipliers(16)
    m61 = (1 << 61) - 1

    def slot0(gh_hex):
        h = struct.unpack(
            "<Q", hashlib.md5(gh_hex.encode()).digest()[:8]
        )[0] & ((1 << 62) - 1)
        # gh_hex is the shingle's md5 hex; the pipeline hashes THAT
        return ((h & ((1 << 31) - 1)) * a_mul[0] & m61) ^ \
               ((h >> 31) * b_mul[0] & m61)

    w = txt.split()
    shingles = {hashlib.md5(" ".join(w[i:i + 3]).encode()).hexdigest()
                for i in range(len(w) - 2)}
    # NB slot0's md5 re-hash: the op hashes the shingle md5 HEX string
    exp0 = min(slot0(gh) for gh in shingles)
    got = (shingle_sets(df.where("source = 'A'"), "source", "text", 3)
           .select(F.explode("shingles").alias("gh"))
           .select(md5hex_to_le64(F.md5("gh"))
                   .bitwiseAND(F.lit((1 << 62) - 1)).alias("h"))
           .agg(F.min((F.col("h").bitwiseAND(F.lit((1 << 31) - 1))
                       * F.lit(a_mul[0])).bitwiseAND(F.lit(m61))
                      .bitwiseXOR((F.shiftright("h", 31)
                                   * F.lit(b_mul[0]))
                                  .bitwiseAND(F.lit(m61)))).alias("m0"))
           .collect()[0]["m0"])
    assert got == exp0
