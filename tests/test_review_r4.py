"""Round-4 code-review regressions: tree-merge balance keying, NULL
text/keys, signed-mod sampling, component seeding, minhash byte
budget, LSH radius."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _hll_agg(df, fanout):
    from cuckoofilter_spark.kernels.hll import HyperLogLog
    from cuckoofilter_spark.sketch.udaf import aggregate_sketch

    return aggregate_sketch(df, "k", lambda: HyperLogLog(p=14, seed=7),
                            HyperLogLog, fanout=fanout)


def test_tree_merge_balanced_and_exact(spark):
    """The tree merge must produce the flat-merge blob at ANY
    partition count — including the even-groups shapes where the old
    monotonically_increasing_id keying collapsed every blob into ONE
    pmod bucket (pmod(p << 33, even) == 0 for all p)."""
    df = spark.range(0, 120000).select(F.col("id").alias("k"))
    flat = _hll_agg(df.coalesce(1), 64)
    for parts, fanout in ((32, 16), (33, 4), (18, 2)):
        tree = _hll_agg(df.repartition(parts), fanout)
        assert tree.to_bytes() == flat.to_bytes(), (parts, fanout)


def test_aggregate_sketch_ignores_null_keys(spark):
    """NULL scalar keys and NULL array ELEMENTS contribute nothing —
    no garbage INT64_MIN keys from NaN casts, no misleading float64
    type error for an integer column that merely has NULLs."""
    from cuckoofilter_spark.sketch.aggregates import hll_sketch

    base = spark.range(0, 5000).select(F.col("id").alias("k"))
    with_nulls = base.unionAll(spark.sql("SELECT CAST(NULL AS LONG) AS k"))
    a = hll_sketch(base, "k")
    b = hll_sketch(with_nulls, "k")
    assert a.to_bytes() == b.to_bytes()

    arr = spark.range(0, 1000).select(
        F.array(F.col("id"), F.col("id") + 100000).alias("k"))
    arr_nulls = spark.range(0, 1000).select(
        F.array(F.col("id"), F.lit(None).cast("long"),
                F.col("id") + 100000).alias("k"))
    assert hll_sketch(arr, "k").to_bytes() == \
        hll_sketch(arr_nulls, "k").to_bytes()


def test_deterministic_sample_negative_keys(spark):
    """pmod thresholding: pct=0 keeps NOTHING and pct=100 keeps all,
    for negative keys too (signed % admitted ~every negative key at
    any pct — xxhash64-keyified columns are ~half negative)."""
    from cuckoofilter_spark.ops.dataflow import deterministic_sample

    df = spark.range(0, 4000).select(
        (F.xxhash64("id")).alias("k"))  # ~half negative
    n_neg = df.where("k < 0").count()
    assert n_neg > 1000
    assert deterministic_sample(df, "k", 0).count() == 0
    assert deterministic_sample(df, "k", 100).count() == 4000
    half = deterministic_sample(df, "k", 50).count()
    assert 0.35 * 4000 < half < 0.65 * 4000


def test_simhash_null_text(spark):
    """A NULL text row is an empty doc (signature 0), not a pandas-UDF
    crash."""
    from cuckoofilter_spark.ops.dedup import simhash_signatures

    df = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", None), ("c", "")],
        "doc string, text string")
    rows = {r["doc"]: r["simhash"] for r in
            simhash_signatures(df, "doc", "text").collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["b"] == rows["c"]


def test_connected_components_covers_pair_endpoints(spark):
    """An endpoint absent from ids must still resolve to the true
    component minimum (the old inner-join fixpoint test couldn't see
    vertices that first appear mid-round and stopped early)."""
    from cuckoofilter_spark.ops.dedup import connected_components

    ids = spark.createDataFrame([(2,), (3,)], "doc long")
    pairs = spark.createDataFrame([(1, 2), (1, 3)],
                                  "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in
           connected_components(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_minhash_huge_doc_subchunked(spark):
    """A single doc over the 32k-shingle chunk cap must produce the
    same signature the whole-matrix arithmetic gives (sub-chunked
    minima, bounded worker memory)."""
    from cuckoofilter_spark.ops.dedup import (_MERSENNE, _minhash_params,
                                              minhash_signatures)

    big = " ".join(f"w{i}" for i in range(40000))
    df = spark.createDataFrame([("big", big)], "doc string, text string")
    row = minhash_signatures(df, "doc", "text", num_hashes=16,
                             window=3).collect()[0]
    sig = row["sig"]
    assert len(sig) == 16
    # whole-matrix oracle over the op's own shingle hashes
    a, b = _minhash_params(16, 0x5EED)
    x = (np.asarray(row["shingle_hashes"], dtype=np.int64)
         .view(np.uint64) % np.uint64(_MERSENNE))
    assert x.size > (1 << 15)  # actually exercises the sub-chunk path
    exp = ((a[:, None] * x[None, :] + b[:, None])
           % np.uint64(_MERSENNE)).min(axis=1)
    assert list(exp.astype(np.int64)) == list(sig)


def test_lsh_topk_radius_above_two(spark):
    """max_hamming=3 must actually widen the candidate ball (it was
    silently capped at 2)."""
    from cuckoofilter_spark.ops.similarity import lsh_topk

    rng = np.random.default_rng(9)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=8)])
         for i in range(300)], "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [float(x) for x in rng.normal(size=8)])],
        "q_id long, q_vec array<double>")
    n2 = lsh_topk(spark, emb, q, k=300, nbits=10, max_hamming=2).count()
    n3 = lsh_topk(spark, emb, q, k=300, nbits=10, max_hamming=3).count()
    assert n3 >= n2


def test_minhash_bands_must_divide(spark):
    from cuckoofilter_spark.ops.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([("a", "x y z")], "doc string, text string")
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(df, "doc", "text", num_hashes=64, bands=12)


def test_cuckoo_overfull_never_loses_acknowledged_keys():
    """AMQ invariant under saturation: keys acknowledged as stored stay
    contained even when later adds overflow (the parallel kick loop
    used to abandon in-flight displaced tags on second overflow; it
    now rolls back and re-runs the reference's sequential AddImpl)."""
    from cuckoofilter_spark.kernels.cuckoo import (CuckooFilter,
                                                   CuckooFullError)

    for trial in range(20):
        rng = np.random.default_rng(trial)
        f = CuckooFilter(num_buckets=8, bits=8, seed=trial, capacity=32)
        first = rng.integers(0, 2**63, size=20, dtype=np.uint64)
        n1 = f.add_many(first, raise_on_full=False)
        f.add_many(rng.integers(0, 2**63, size=500, dtype=np.uint64),
                   raise_on_full=False)
        assert f.contains_many(first[:n1]).all(), trial

    # raise path: catch CuckooFullError, keep probing — no loss either
    f = CuckooFilter(num_buckets=8, bits=8, seed=3, capacity=32)
    base = np.arange(1, 21, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    n = f.add_many(base, raise_on_full=False)
    with pytest.raises(CuckooFullError):
        while True:  # drive to overflow
            f.add_many(np.arange(1000, 1600, dtype=np.uint64))
    assert f.contains_many(base[:n]).all()


def test_cuckoo_delete_matches_victim():
    """Delete must match the victim-cache entry (cuckoofilter.h:212-216)
    — a key parked in the victim was undeletable before."""
    from cuckoofilter_spark.kernels.cuckoo import CuckooFilter

    f = CuckooFilter(num_buckets=4, bits=12, seed=9, capacity=16)
    keys = np.arange(1, 200, dtype=np.uint64)
    n = f.add_many(keys, raise_on_full=False)
    assert f.victim_used
    idx1, tag = f._index_tag(keys[:n])
    alt = f.alt_index(idx1, tag)
    vt = f.table.dtype.type(f.victim_tag)
    vm = np.flatnonzero((tag == vt) & ((idx1 == f.victim_index)
                                       | (alt == f.victim_index)))
    assert vm.size  # some inserted key's route matches the victim entry
    k = keys[:n][vm[0]]
    before = f.num_items
    # delete every copy of k's tag (table copies first, then the victim)
    got = f.delete_many(np.array([k] * 4, dtype=np.uint64))
    assert not f.victim_used  # the victim copy was deletable
    assert f.num_items == before - int(got.sum())


def test_kll_total_weight_conserved():
    """sum(weights) == n after any number of compactions (odd-buffer
    compaction used to promote ceil(n/2) at doubled weight — a
    systematic positive rank bias)."""
    from cuckoofilter_spark.kernels.kll import KLLSketch

    for k, n in ((8, 10000), (64, 50000)):
        s = KLLSketch(k=k, seed=3)
        s.add_many(np.arange(n, dtype=np.float64))
        assert int(s._items()[1].sum()) == n, (k, n)
    a, b = KLLSketch(k=32, seed=1), KLLSketch(k=32, seed=1)
    a.add_many(np.arange(7777, dtype=np.float64))
    b.add_many(np.arange(3333, dtype=np.float64))
    m = KLLSketch.merge(a, b)
    assert int(m._items()[1].sum()) == 7777 + 3333


def test_xorplus_blob_is_little_endian():
    """The fingerprint/rank payloads must be explicit LE (repo blob
    convention): byte-swapped in-memory arrays must serialize to the
    same blob."""
    from cuckoofilter_spark.kernels.xorplus import XorFilterPlus

    keys = (np.arange(1, 2000, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15))
    f = XorFilterPlus.build(keys, fp_bits=8, seed=5)
    blob = f.to_bytes()
    g = XorFilterPlus.from_bytes(blob)
    assert g.to_bytes() == blob
    assert g.contains_many(keys).all()
    # simulate a BE host's in-memory arrays: byteswapped with flipped
    # dtype is the SAME logical values -> blob must be identical
    g.fingerprints = g.fingerprints.byteswap().view(
        g.fingerprints.dtype.newbyteorder())
    g.rank.bits = g.rank.bits.byteswap().view(
        g.rank.bits.dtype.newbyteorder())
    g.rank.counts = g.rank.counts.byteswap().view(
        g.rank.counts.dtype.newbyteorder())
    assert g.to_bytes() == blob
