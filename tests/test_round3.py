"""Round-3 additions: GCS succinct offset list (space parity with
gcs.h's MultiStageMonotoneList target), blob back-compat, the CQF
enumeration surface, and the Shingle filter family (shingle.h)."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.kernels.cqf import CountingQuotientFilter
from cuckoofilter_spark.kernels.gcs import _FMT, GcsFilter
from cuckoofilter_spark.kernels.shingle import (
    MAX_LOAD, ShingleFilter, ShingleFullError)


def _rand_keys(n, seed):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(0, 1 << 62, size=n, dtype=np.uint64))


# -- GCS succinct offsets --------------------------------------------------
def test_gcs_space_parity():
    """Serialized footprint must hit the reference's ~log2fpp + 2.5
    bits/key (gcs.h target); plain int64 offsets were log2fpp + ~5.5."""
    keys = _rand_keys(200_000, 3)
    for log2fpp in (8, 10, 13):
        f = GcsFilter.build(keys, log2fpp=log2fpp, seed=0x5EED)
        assert f.bits_per_item() <= log2fpp + 3.0, (log2fpp, f.bits_per_item())
        # and the blob itself is what bits_per_item accounts (plus header)
        assert abs(len(f.to_bytes()) - f.size_in_bytes()) < 64


def test_gcs_v2_roundtrip_and_v1_compat():
    keys = _rand_keys(50_000, 4)
    f = GcsFilter.build(keys, log2fpp=10, seed=0x5EED, layout=2)
    g = GcsFilter.from_bytes(f.to_bytes())
    assert (g.offsets == f.offsets).all() and (g.bits == f.bits).all()
    assert g.contains_many(keys).all()
    # pre-succinct blobs (ver=1, plain int64 offsets) must still read
    hdr = struct.pack(_FMT, b"GCS1", 1, f.log2fpp, f.log2bucket, f.n,
                      f.bits.size, f.seed)
    v1 = hdr + f.offsets.astype("<i8").tobytes() + np.packbits(f.bits).tobytes()
    h = GcsFilter.from_bytes(v1)
    assert (h.offsets == f.offsets).all() and (h.bits == f.bits).all()


def test_gcs_empty_roundtrip():
    e = GcsFilter.build(np.array([], dtype=np.uint64))
    e2 = GcsFilter.from_bytes(e.to_bytes())
    assert e2.contains_many(_rand_keys(1000, 5)).sum() == 0


# -- Shingle filter (shingle.h overlapping-bucket cuckoo) ------------------
def test_shingle_no_false_negatives_and_fpr():
    keys = _rand_keys(120_000, 7)
    f = ShingleFilter.create(keys.size, slot_bits=12, seed=0x5EED)
    assert f.add_many(keys) == keys.size
    assert f.contains_many(keys).all()
    rng = np.random.default_rng(8)
    neg = rng.integers(1 << 62, 1 << 63, size=500_000, dtype=np.uint64)
    fpr = f.contains_many(neg).mean()
    assert fpr <= 1.5 * f.expected_fpp(), fpr


def test_shingle_full_load_and_refusal():
    """The structure must actually reach the 12/12.75 (94.1%) load the
    reference claims (shingle.h:172), then refuse further adds."""
    f = ShingleFilter(14, 12, 0x5EED)  # m=16384
    cap = int(MAX_LOAD * 2 * f.m)
    keys = _rand_keys(cap + 9_999, 9)[:cap]
    assert f.add_many(keys) == cap
    assert abs(f.load_factor() - MAX_LOAD) < 1e-4
    assert f.contains_many(keys).all()
    assert f.bits_per_item() < 12.8
    with pytest.raises(ShingleFullError):
        f.add_many(np.array([1, 2, 3], dtype=np.uint64))


def test_shingle_delete_and_roundtrip():
    keys = _rand_keys(50_000, 10)
    f = ShingleFilter.create(keys.size, seed=0x5EED)
    f.add_many(keys)
    g = ShingleFilter.from_bytes(f.to_bytes())
    assert (g.tables == f.tables).all() and g.filled == f.filled
    half = keys[: keys.size // 2]
    assert f.delete_many(half).all()
    assert f.contains_many(keys[keys.size // 2:]).all()
    assert f.filled == keys.size - half.size


def test_shingle_build_deterministic_and_merge_commutative():
    keys = _rand_keys(40_000, 11)
    a = ShingleFilter.create(keys.size, seed=0x5EED)
    a.add_many(keys)
    b = ShingleFilter.create(keys.size, seed=0x5EED)
    b.add_many(keys)
    assert a.to_bytes() == b.to_bytes()  # same keys -> identical blobs
    log2m = a.log2m
    p1 = ShingleFilter(log2m, 12, 0x5EED)
    p1.add_many(keys[::2])
    p2 = ShingleFilter(log2m, 12, 0x5EED)
    p2.add_many(keys[1::2])
    m12 = ShingleFilter.merge(p1, p2)
    m21 = ShingleFilter.merge(p2, p1)
    assert m12.to_bytes() == m21.to_bytes()  # content-canonical
    assert m12.contains_many(keys).all()
    with pytest.raises(ValueError):
        ShingleFilter.merge(p1, ShingleFilter(log2m, 12, 99))


def test_shingle_sharded_build_spark(spark):
    from pyspark.sql import functions as F

    from cuckoofilter_spark.sketch.membership import (
        shingle_build, shingle_contains_col)

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .where(F.col("l_partkey") < 800)
    filt = shingle_build(li, "l_partkey", capacity=800, slot_bits=16,
                         seed=0x5EED, num_shards=4)
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    got = {r[0] for r in part.where(
        shingle_contains_col(spark, filt, "p_partkey"))
        .select("p_partkey").collect()}
    want = {r[0] for r in li.select("l_partkey").distinct().collect()
            if r[0] is not None}
    present = {r[0] for r in part.select("p_partkey").collect()}
    assert got == (want & present)  # zero FP at 15-bit fp on this keyspace
    # delete maintenance across shards
    some = np.array(sorted(want)[:100], dtype=np.uint64)
    assert filt.delete_u64(some).all()
    got2 = {r[0] for r in part.where(
        shingle_contains_col(spark, filt, "p_partkey"))
        .select("p_partkey").collect()}
    assert got2 == ((want - set(some.tolist())) & present)


# -- canonical sequence-table reader ----------------------------------------
def test_read_sequences_parquet_and_projection(spark, tmp_path):
    from cuckoofilter_spark.sources.catalog import read_sequences
    from cuckoofilter_spark.sources.tokens import tokens_table

    p = str(tmp_path / "seq.parquet")
    tokens_table(spark, 200, seed=42).write.parquet(p)
    df = read_sequences(spark, p)
    assert df.columns == ["doc_id", "tokens", "n_tok", "source"]
    assert df.count() == 200
    # projection reaches the scan (column pruning at the source)
    narrow = read_sequences(spark, p, columns=("n_tok",))
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<n_tok:int>" in plan, plan
    with pytest.raises(ValueError):
        read_sequences(spark, p, columns=("nope",))


def _spark_read(spark, p, columns=None):
    from cuckoofilter_spark.sources.catalog import CANONICAL_COLUMNS

    df = spark.read.parquet(p)
    return df.select(*(columns or [c for c in CANONICAL_COLUMNS
                                   if c in df.columns]))


def test_read_sequences_takes_the_stored_parquet_schema(spark, jobs_of,
                                                        tmp_path):
    """A local table Spark wrote — a directory or one of its files —
    reads with the schema Spark stored in the footer: no inference job,
    the schema ``spark.read.parquet`` infers, the rows it reads, and the
    missing-column ValueError still raised."""
    import glob

    from cuckoofilter_spark.sources.catalog import read_sequences
    from cuckoofilter_spark.sources.tokens import tokens_table

    d = str(tmp_path / "seq")
    tokens_table(spark, 120, seed=5).repartition(3).write.parquet(d)
    one = sorted(glob.glob(d + "/part-*.parquet"))[0]
    for src, columns in ((d, None), (one, None), (d, ("tokens", "n_tok"))):
        out = {}
        assert jobs_of(lambda: out.update(
            df=read_sequences(spark, src, columns=columns))) == 0, src
        want = _spark_read(spark, src, columns)
        assert out["df"].schema == want.schema, src
        assert sorted(out["df"].collect()) == sorted(want.collect()), src
    with pytest.raises(ValueError, match="missing"):
        read_sequences(spark, d, columns=("nope",))


def test_read_sequences_infers_what_spark_did_not_write(spark, tmp_path):
    """A file pyarrow wrote (no Spark schema in its footer) and a
    ``source=``-partitioned directory read as ``spark.read.parquet``
    reads them; an empty directory still raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuckoofilter_spark.sources.catalog import read_sequences
    from cuckoofilter_spark.sources.tokens import tokens_table

    f = str(tmp_path / "arrow.parquet")
    pq.write_table(pa.table({
        "doc_id": ["a", "b"],
        "tokens": pa.array([[1, 2], []], pa.list_(pa.int32())),
        "n_tok": pa.array([2, 0], pa.int32())}), f)
    d = str(tmp_path / "by_source")
    tokens_table(spark, 60, seed=6).write.partitionBy("source").parquet(d)
    for src in (f, d):
        got = read_sequences(spark, src)
        want = _spark_read(spark, src)
        assert got.schema == want.schema, src
        assert sorted(got.collect()) == sorted(want.collect()), src
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception, match="(?i)schema"):
        read_sequences(spark, str(empty))


def test_read_sequences_iceberg_gate(spark):
    from cuckoofilter_spark.sources.catalog import read_sequences

    with pytest.raises(RuntimeError, match="[Ii]ceberg"):
        read_sequences(spark, "catalog.db.sequences")


# -- CQF enumeration (gqf.h:243-291 qf_iterator surface) -------------------
def test_cqf_items_enumeration():
    f = CountingQuotientFilter(q=20, r=28, seed=0x5EED)
    keys = np.array([1, 2, 2, 3, 3, 3, 4, 4, 4, 4], dtype=np.uint64)
    f.add_many(keys)
    fps, counts = f.items()
    assert fps.size == 4
    assert (np.sort(counts) == np.array([1, 2, 3, 4])).all()
    assert (np.diff(fps.view(np.uint64)) > 0).all()  # sorted order
    # enumeration is lossless: rebuilding from items() is identity
    g = CountingQuotientFilter(q=20, r=28, seed=0x5EED)
    g._fold(fps, counts)
    assert (g.fingerprints == f.fingerprints).all()
    assert (g.counts == f.counts).all()
    # delete reflects in enumeration
    f.delete_many(np.array([4], dtype=np.uint64))
    _, counts2 = f.items()
    assert sorted(counts2.tolist()) == [1, 2, 3, 3]


def test_cqf_escaped_count_blob():
    """v2 blobs store counts as uint8 with a 0xFF escape to int64 (the
    slot-embedded small-count analogue, gqf.h:49-66); v1 plain-int64
    blobs must still read."""
    rng = np.random.default_rng(3)
    keys = rng.integers(0, 1 << 50, size=50_000, dtype=np.uint64)
    counts = np.where(rng.random(50_000) < 0.01,
                      rng.integers(255, 100_000, 50_000),
                      rng.integers(1, 254, 50_000)).astype(np.int64)
    f = CountingQuotientFilter(q=20, r=28, seed=1)
    f.add_many(keys, counts)
    g = CountingQuotientFilter.from_bytes(f.to_bytes())
    assert (g.fingerprints == f.fingerprints).all()
    assert (g.counts == f.counts).all() and g.total == f.total
    # boundary: 254 packs, 255 escapes
    f2 = CountingQuotientFilter(q=10, r=20, seed=1)
    f2.add_many(np.array([1, 2, 3], dtype=np.uint64),
                np.array([254, 255, 300], dtype=np.int64))
    g2 = CountingQuotientFilter.from_bytes(f2.to_bytes())
    assert sorted(g2.counts.tolist()) == [254, 255, 300]
    # v1 compat
    from cuckoofilter_spark.kernels.cqf import _FMT as CFMT, _MAGIC as CMAGIC
    hdr = struct.pack(CFMT, CMAGIC, 1, f.q, f.r, f.seed,
                      f.fingerprints.size, f.total)
    v1 = (hdr + f.fingerprints.astype("<u8").tobytes()
          + f.counts.astype("<i8").tobytes())
    h = CountingQuotientFilter.from_bytes(v1)
    assert (h.counts == f.counts).all()
    # serialized footprint beats plain int64 counts
    assert len(f.to_bytes()) < len(v1)


# -- Tail filter (tail-filter.hpp) ------------------------------------------
class _SeqTail:
    """Sequential spec of tail-filter.hpp:52-133 — insert-at-a-time,
    dict-of-tail-lists instead of the QuotientDysect — used ONLY as the
    parity oracle for the vectorized kernel."""

    def __init__(self, lgm, eps):
        import math
        self.lgm = max(lgm, 5)
        self.tb = max(1, int(math.floor(math.log2(1.0 / eps))))
        self.epoch = 0
        self.ndv = 0
        self.pairs = {}
        self.bits = None  # (set of keys, capacity bits)

    def _split(self, h):
        kw = self.lgm + self.epoch
        key = h >> (64 - kw)
        val = (h >> (64 - kw - self.tb)) & ((1 << self.tb) - 1)
        return key, 2 * val + 1

    def lookup(self, h):
        if self.bits is not None:
            keys, c = self.bits
            if (h >> (64 - c)) in keys:
                return True
        key, qt = self._split(h)
        for t in self.pairs.get(key, ()):
            tz = (t & -t).bit_length()  # 1 + count_trailing_zeros
            if (t >> tz) == (qt >> tz):
                return True
        return False

    def upsize(self):
        if self.bits is not None:
            keys, c = self.bits
            self.bits = ({2 * k for k in keys} | {2 * k + 1 for k in keys},
                         c + 1)
        newpairs = {}
        for key, ts in self.pairs.items():
            for t in ts:
                if t == 1 << self.tb:
                    if self.bits is None:
                        self.bits = (set(), self.lgm + self.epoch)
                    self.bits[0].add(key)
                else:
                    nk = 2 * key + (t >> self.tb)
                    nt = (2 * t) & ((1 << (self.tb + 1)) - 1)
                    newpairs.setdefault(nk, []).append(nt)
        self.pairs = newpairs
        self.epoch += 1

    def insert(self, h):
        if self.lookup(h):
            return False
        if self.ndv > (1 << self.lgm) and self.ndv & (self.ndv - 1) == 0:
            self.upsize()
        key, t = self._split(h)
        self.pairs.setdefault(key, []).append(t)
        self.ndv += 1
        return True


def test_tail_parity_with_sequential_spec():
    """The batch kernel must build the SAME structure the sequential
    reference algorithm builds (pairs, epoch, ndv, lookups) on a run
    with no coverage-skips (tb=16 keeps accidental covers at ~0)."""
    from cuckoofilter_spark.kernels.hashing import splitmix64
    from cuckoofilter_spark.kernels.tail import TailFilter

    hashes = splitmix64(np.arange(1, 20_001, dtype=np.uint64))
    seq = _SeqTail(8, 2.0 ** -16)
    # the batch API canonicalizes to sorted-unique insertion order (so
    # two cluster runs build identical blobs); the parity claim is
    # against the sequential algorithm applied in that same order
    for h in np.sort(np.unique(hashes)).tolist():
        seq.insert(h)
    bat = TailFilter(lgm=8, epsilon=2.0 ** -16)
    bat.add_many(hashes)
    assert bat.epoch == seq.epoch and bat.ndv == seq.ndv
    w = seq.tb + 1
    seq_pairs = sorted((k << w) | t for k, ts in seq.pairs.items() for t in ts)
    assert bat.pairs.tolist() == seq_pairs
    assert seq.bits is None and bat.bitset is None
    probes = splitmix64(np.arange(10 ** 9, 10 ** 9 + 5000, dtype=np.uint64))
    got = bat.contains_many(probes)
    want = np.array([seq.lookup(int(h)) for h in probes], dtype=bool)
    assert (got == want).all()


def test_tail_graduation_and_blob():
    """Drive epoch past tb so tails graduate into the bitset
    (tail-filter.hpp:99-105): membership must survive graduation, the
    blob must round-trip the bitset, and merge must OR it.

    Graduation is driven by explicit upsize() calls: with tb=2 the
    honest per-insert Lookup gate (matching the sequential spec above)
    saturates the structure before ndv can climb enough epochs — the
    old version of this test only reached high epochs because a bug
    upsized spuriously on duplicate-heavy batches."""
    from cuckoofilter_spark.kernels.hashing import splitmix64
    from cuckoofilter_spark.kernels.tail import TailFilter

    hashes = splitmix64(np.arange(1, 60_001, dtype=np.uint64))
    f = TailFilter(lgm=5, epsilon=0.2)  # tb=2: graduation after 3 upsizes
    f.add_many(hashes[:200])
    for _ in range(3):
        f.upsize()
    assert f.epoch > f.tb and f.bitset is not None and f.bitset.sum() > 0
    assert f.contains_many(hashes[:200]).all()
    g = TailFilter.from_bytes(f.to_bytes())
    assert (g.bitset == f.bitset).all() and (g.pairs == f.pairs).all()
    assert g.contains_many(hashes[:200]).all()
    a, b = TailFilter(5, 0.2), TailFilter(5, 0.2)
    a.add_many(hashes[:400])
    for _ in range(3):
        a.upsize()                     # epochs differ: merge must replay
    b.add_many(hashes[300:700])
    m = TailFilter.merge(a, b)
    assert m.contains_many(hashes[:700]).all()
    m2 = TailFilter.merge(b, a)
    assert (m2.pairs == m.pairs).all()
    assert (m2.bitset is None) == (m.bitset is None)
    if m.bitset is not None:
        assert (m2.bitset == m.bitset).all()


def test_tail_merge_associative():
    from cuckoofilter_spark.kernels.hashing import splitmix64
    from cuckoofilter_spark.kernels.tail import TailFilter

    hashes = splitmix64(np.arange(1, 90_001, dtype=np.uint64))
    parts = [TailFilter(8, 1e-3) for _ in range(3)]
    for i, p in enumerate(parts):
        p.add_many(hashes[i * 30_000:(i + 1) * 30_000])
    l = TailFilter.merge(TailFilter.merge(parts[0], parts[1]), parts[2])
    r = TailFilter.merge(parts[0], TailFilter.merge(parts[1], parts[2]))
    assert (l.pairs == r.pairs).all() and l.epoch == r.epoch
    assert l.contains_many(hashes).all()
    with pytest.raises(ValueError):
        TailFilter.merge(TailFilter(8, 1e-3), TailFilter(8, 1e-2))


def test_tail_no_capacity_spark_build(spark):
    """Sharded Spark build with NO capacity parameter; no false
    negatives, structure-derived FPR bound respected on fresh keys."""
    from cuckoofilter_spark.sketch.membership import (
        tail_build, tail_contains_col)

    import pandas as pd
    n = 30_000
    pdf = pd.DataFrame({"k": np.arange(1, n + 1, dtype=np.int64)})
    df = spark.createDataFrame(pdf).repartition(8)
    filt = tail_build(df, "k", epsilon=2.0 ** -16, lgm=10, seed=0x5EED)
    probe_df = spark.createDataFrame(pd.DataFrame(
        {"k": np.arange(1, 2 * n + 1, dtype=np.int64)}))
    got = (probe_df.withColumn("hit", tail_contains_col(spark, filt, "k"))
           .where("hit").select("k").toPandas()["k"].to_numpy())
    present = set(range(1, n + 1))
    assert present <= set(got.tolist())          # no false negatives
    fps = len(set(got.tolist()) - present)
    bound = filt.expected_fpp() * n * 8          # generous slack
    assert fps <= max(5, bound), (fps, bound)
    assert filt.num_items() == n


# -- Crate / pocket dictionaries (crate.h) ----------------------------------
def _pd_find_spec(block: bytes, quot: int, rem: int) -> bool:
    """Independent decoder of one 64-byte pocket dictionary following
    pd_find_50 (crate.h:66-89): 101-bit little-endian Elias-Fano header
    (the q-th one terminates quotient q's zero-run), remainders at
    bytes [13, 64). Used to prove the kernel's serialized blocks are
    bit-compatible with the reference layout."""
    header = int.from_bytes(block[:13], "little") & ((1 << 101) - 1)
    ones = [i for i in range(101) if (header >> i) & 1][:50]
    begin = (ones[quot - 1] + 1 if quot else 0) - quot
    end = ones[quot] - quot
    return rem in block[13 + begin:13 + end]


def test_crate_pd_block_layout_parity():
    from cuckoofilter_spark.kernels.crate import (
        _HDR_SIZE as CHDR, _PD_BYTES, _TRIPLE_SPAN, CrateFilter)
    from cuckoofilter_spark.kernels.hashing import splitmix64

    keys = splitmix64(np.arange(1, 40_001, dtype=np.uint64))
    f = CrateFilter(add_count=keys.size)
    f.add_many(keys)
    blob = f.to_bytes()
    rng = np.random.default_rng(11)
    # positives and random probes, checked bucket-block by spec decode
    probes = np.concatenate([keys[rng.integers(0, keys.size, 500)],
                             splitmix64(rng.integers(1 << 40, 1 << 60,
                                                     500,
                                                     dtype=np.uint64))])
    got = f.contains_many(probes)
    b, q, r = f._parts(probes)
    spare = set(f.spare.tolist())
    for i in range(probes.size):
        blk = blob[CHDR + int(b[i]) * _PD_BYTES:
                   CHDR + (int(b[i]) + 1) * _PD_BYTES]
        want = _pd_find_spec(blk, int(q[i]), int(r[i])) \
            or int(probes[i]) in spare
        assert bool(got[i]) == want, i


def test_crate_build_fpr_and_spare_rate():
    from cuckoofilter_spark.kernels.crate import CrateFilter
    from cuckoofilter_spark.kernels.hashing import splitmix64

    keys = splitmix64(np.arange(1, 500_001, dtype=np.uint64))
    f = CrateFilter(add_count=keys.size)
    f.add_many(keys)
    assert f.contains_many(keys).all()
    # spare spill at fill 44 is ~1.3% (crate.h:404's sizing comment)
    rate = f.spare.size / keys.size
    assert 0.005 < rate < 0.03, rate
    probes = splitmix64(np.arange(1, 2_000_001, dtype=np.uint64)
                        + np.uint64(1 << 41))
    fpr = f.contains_many(probes).mean()
    assert fpr < 2.5 * f.expected_fpp(), (fpr, f.expected_fpp())
    assert f.bits_per_item() < 14.0  # 64B/44 keys + spare ~= 12.4


def test_crate_merge_and_incremental():
    from cuckoofilter_spark.kernels.crate import CrateFilter
    from cuckoofilter_spark.kernels.hashing import splitmix64

    keys = splitmix64(np.arange(1, 90_001, dtype=np.uint64))
    parts = [CrateFilter(90_000) for _ in range(3)]
    for i, p in enumerate(parts):
        p.add_many(keys[i * 30_000:(i + 1) * 30_000])
    l = CrateFilter.merge(CrateFilter.merge(parts[0], parts[1]), parts[2])
    r = CrateFilter.merge(parts[0], CrateFilter.merge(parts[1], parts[2]))
    assert (l.triples == r.triples).all() and (l.spare == r.spare).all()
    assert l.contains_many(keys).all()
    # merged overflow (>51 triples in one bucket) survives the blob
    g = CrateFilter.from_bytes(l.to_bytes())
    assert (g.triples == l.triples).all() and g.contains_many(keys).all()
    with pytest.raises(ValueError):
        CrateFilter.merge(CrateFilter(1000), CrateFilter(90_000))
    # incremental adds keep every old key findable
    inc = CrateFilter(90_000)
    inc.add_many(keys[45_000:])
    inc.add_many(keys[:45_000])
    assert inc.contains_many(keys).all()
    # empty filter
    assert not CrateFilter(1000).contains_many(keys[:10]).any()


def test_crate_spark_build(spark):
    import pandas as pd

    from cuckoofilter_spark.sketch.membership import (
        crate_build, crate_contains_col)

    n = 40_000
    df = spark.createDataFrame(pd.DataFrame(
        {"k": np.arange(1, n + 1, dtype=np.int64)})).repartition(8)
    filt = crate_build(df, "k", capacity=n, seed=0x5EED)
    probe_df = spark.createDataFrame(pd.DataFrame(
        {"k": np.arange(1, 2 * n + 1, dtype=np.int64)}))
    got = (probe_df.withColumn("hit", crate_contains_col(spark, filt, "k"))
           .where("hit").select("k").toPandas()["k"].to_numpy())
    present = set(range(1, n + 1))
    assert present <= set(got.tolist())
    fps = len(set(got.tolist()) - present)
    assert fps <= 4 * filt.expected_fpp() * n + 8, fps
    assert filt.num_items() == n


# -- winnowing fingerprints --------------------------------------------------
def test_winnow_guarantee_and_density(spark):
    """The winnowing theorem (Schleimer et al. SIGMOD'03): any shared
    word run of length >= w+k-1 forces a shared fingerprint; and the
    kept-fraction is ~2/(w+1) of gram hashes, i.e. sub-linear sketch."""
    from cuckoofilter_spark.ops.text import winnow_fingerprints

    k, w = 3, 4
    common = "alpha beta gamma delta epsilon zeta"  # 6 words = w+k-1
    rows = [
        ("a", "one two three " + common + " four five six"),
        ("b", "seven eight " + common + " nine ten eleven twelve"),
        ("c", "totally unrelated words with nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    fp = winnow_fingerprints(df, "doc_id", "text", k=k, w=w)
    got = {}
    for r in fp.collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    assert got["a"] & got["b"], "shared w+k-1 run must share a fingerprint"
    assert not (got["a"] & got["c"])
    assert not (got["b"] & got["c"])
    # density: per doc, fingerprints <= gram count and well below it for
    # a long doc
    long_doc = " ".join(f"tok{i}" for i in range(500))
    df2 = spark.createDataFrame([("d", long_doc)], "doc_id string, text string")
    n_fp = winnow_fingerprints(df2, "doc_id", "text", k=k, w=w).count()
    n_grams = 500 - k + 1
    assert n_fp <= n_grams
    assert n_fp < 0.75 * n_grams  # expectation ~2/(w+1) = 0.4, slack for dups


def test_sequence_table_format_roundtrip(spark, tmp_path):
    """Every supported format round-trips the canonical sequence table
    with PER-ROW TOKEN-ARRAY EQUALITY (the input_hint invariant) and one
    schema downstream — including CSV's space-joined text encoding and
    an empty-tokens row."""
    from cuckoofilter_spark.sources.catalog import (
        CANONICAL_SCHEMA, read_sequences, write_sequences)
    from cuckoofilter_spark.sources.tokens import tokens_table

    base = tokens_table(spark, 150, seed=42).unionAll(
        spark.createDataFrame(
            [("empty-doc", [], 0, "synthetic")], CANONICAL_SCHEMA))
    want = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
            for r in base.collect()}
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / f"seq_{fmt}.{fmt}")
        write_sequences(base, p, fmt=fmt)
        df = read_sequences(spark, p)  # format inferred from extension
        assert df.schema == CANONICAL_SCHEMA, (fmt, df.schema)
        got = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
               for r in df.collect()}
        assert got == want, fmt
        # explicit fmt= beats inference too
        assert read_sequences(spark, p, fmt=fmt).count() == 151
    with pytest.raises(ValueError, match="unknown format"):
        write_sequences(base, str(tmp_path / "x"), fmt="avro")


def test_hll_overlap_estimate(spark):
    """hll_overlap: join-free |A∩B|/Jaccard via HLL inclusion-exclusion.
    Planted overlap of 3000 keys between 10k- and 8k-key sets: the
    estimate must sit inside its own published err_bound around truth,
    and the whole operator must be deterministic."""
    from pyspark.sql import functions as F

    from cuckoofilter_spark.ops.dataflow import hll_overlap

    a = spark.range(0, 10_000).select(F.col("id").alias("k"))
    b = spark.range(7_000, 15_000).select(F.col("id").alias("k"))
    r = hll_overlap(a, "k", b, "k", p=14, seed=11)
    assert abs(r["est_intersection"] - 3_000) <= r["err_bound"]
    assert abs(r["est_union"] - 15_000) <= 3 * 1.04 / 128 * 15_000 + 8
    truth_j = 3_000 / 15_000
    assert abs(r["jaccard_est"] - truth_j) < 0.05
    r2 = hll_overlap(a, "k", b, "k", p=14, seed=11)
    assert r == r2  # deterministic: replay-stable bound flags
    # disjoint sets clamp at zero
    c = spark.range(100_000, 101_000).select(F.col("id").alias("k"))
    rd = hll_overlap(a, "k", c, "k", p=14, seed=11)
    assert rd["est_intersection"] <= rd["err_bound"]


# -- Misra-Gries heavy hitters ------------------------------------------------
def test_mg_kernel_guarantees():
    """Deterministic MG guarantees on a planted heavy/tail stream:
    present-key bracket [true-D, true], heavy keys present, D <=
    n/(k+1), blob round-trip, and BIT-EXACT merge associativity (the
    exact-sparse-sum merge protocol, unlike textbook MG merges)."""
    import functools

    from cuckoofilter_spark.kernels.mg import MisraGries

    rng = np.random.default_rng(7)
    heavy = np.repeat(np.arange(10, dtype=np.uint64), 5000)
    tail = rng.integers(100, 100_000, size=200_000).astype(np.uint64)
    stream = np.concatenate([heavy, tail])
    rng.shuffle(stream)

    parts = np.array_split(stream, 7)
    sks = []
    for p in parts:
        s = MisraGries(k=64)
        s.add_many(p)
        assert s.keys.size <= 64
        sks.append(s)
    fwd = functools.reduce(MisraGries.merge, sks)
    rev = functools.reduce(MisraGries.merge, sks[::-1])
    assert np.array_equal(fwd.keys, rev.keys)
    assert np.array_equal(fwd.counts, rev.counts)
    assert fwd.decremented == rev.decremented and fwd.n == rev.n

    assert fwd.n == stream.size
    assert fwd.decremented <= fwd.n // 65 + len(sks)
    hk = np.arange(10, dtype=np.uint64)
    true = np.array([5000 + int((tail == k).sum()) for k in hk])
    est = fwd.estimate(hk)
    assert (est > 0).all()  # heavy (freq > D) keys are always present
    assert (est <= true).all() and (true <= est + fwd.decremented).all()

    rt = MisraGries.from_bytes(fwd.to_bytes())
    assert np.array_equal(rt.keys, fwd.keys)
    assert np.array_equal(rt.counts, fwd.counts)
    assert (rt.n, rt.decremented, rt.k) == (fwd.n, fwd.decremented, fwd.k)

    fwd.compact()
    assert fwd.keys.size <= 64
    est2 = fwd.estimate(hk)
    assert (est2 <= true).all() and (true <= est2 + fwd.decremented).all()

    tk, tc = fwd.topk(5)
    assert set(tk.tolist()) <= set(hk.tolist())
    with pytest.raises(ValueError):
        MisraGries.merge(MisraGries(k=64), MisraGries(k=32))


def test_mg_sketch_spark_token_table(spark):
    """mg_sketch over the tokens array column: summary estimates match
    the MG bracket against exact Spark counts for the true top tokens."""
    from pyspark.sql import functions as F

    from cuckoofilter_spark.sketch.aggregates import mg_sketch
    from cuckoofilter_spark.sources.tokens import tokens_table

    toks = tokens_table(spark, 2000, seed=3, vocab_size=5000)
    sk = mg_sketch(toks, "tokens", k=128)
    exact = {r["t"]: r["c"] for r in
             toks.select(F.explode("tokens").alias("t"))
             .groupBy("t").agg(F.count("*").alias("c"))
             .orderBy(F.desc("c")).limit(30).collect()}
    d = sk.error_bound()
    est = dict(zip((k.astype("int64") for k in sk.keys),
                   (int(c) for c in sk.counts)))
    for t, c in exact.items():
        if c > d:
            assert t in est, (t, c, d)
        if t in est:
            assert est[t] <= c <= est[t] + d, (t, est[t], c, d)
    # determinism: identical second build
    sk2 = mg_sketch(toks, "tokens", k=128)
    assert sk2.to_bytes() == sk.to_bytes()


def test_grouped_hll_distinct(spark):
    """Per-group HLL: one estimate per group, each within the 3-sigma
    bound of the exact per-group distinct; NULL group forms its own
    group; identical rebuild (determinism)."""
    from cuckoofilter_spark.sketch.aggregates import grouped_hll_distinct

    df = spark.range(20000).selectExpr(
        "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('src', id % 3) END AS source",
        "id % 4000 AS k").repartition(8)
    got = {r["source"]: r["est_distinct"]
           for r in grouped_hll_distinct(df, "source", "k", p=13).collect()}
    exact = {r["source"]: r["n"] for r in df.groupBy("source").agg(
        F.countDistinct("k").alias("n")).collect()}
    # countDistinct skips NULL k but k is never NULL here; groups align
    assert set(got) == set(exact) and None in got
    for g, n in exact.items():
        assert abs(got[g] - n) <= 3 * 1.04 / (2 ** 6.5) * n, (g, got[g], n)
    got2 = {r["source"]: r["est_distinct"]
            for r in grouped_hll_distinct(df, "source", "k", p=13).collect()}
    assert got == got2


def test_grouped_mg_topk(spark):
    """Per-group MG heavy hitters: every true heavy key (count > n_g/(k+1))
    surfaces in its group's top list with the bracket guarantee."""
    from cuckoofilter_spark.sketch.aggregates import grouped_mg_topk
    from cuckoofilter_spark.sources.tokens import tokens_table

    toks = (tokens_table(spark, 1200, seed=9, vocab_size=3000)
            .withColumn("source", F.expr("concat('s', pmod(xxhash64(doc_id), 2))")))
    rows = grouped_mg_topk(toks, "source", "tokens", k=64, topn=5).collect()
    assert {r["source"] for r in rows} == {"s0", "s1"}
    exact = {(r["source"], r["t"]): r["c"] for r in
             toks.select("source", F.explode("tokens").alias("t"))
             .groupBy("source", "t").agg(F.count("*").alias("c")).collect()}
    per_g = {}
    for (g, t), c in exact.items():
        per_g[g] = per_g.get(g, 0) + c
    for r in rows:
        true = exact[(r["source"], r["key"])]
        slack = per_g[r["source"]] // 65 + 64  # summed per-partial bound
        assert r["est"] <= true <= r["est"] + slack, (r, true, slack)


def test_grouped_sketch_partition_invariance(spark):
    """HLL merge is bit-exact associative/commutative, so the per-group
    estimates must be IDENTICAL whatever the partitioning of the input
    (different partition counts produce different partial sets)."""
    from cuckoofilter_spark.sketch.aggregates import grouped_hll_distinct

    df = spark.range(12000).selectExpr("concat('g', id % 4) AS grp",
                                       "id % 900 AS k")
    a = {r["grp"]: r["est_distinct"]
         for r in grouped_hll_distinct(df.repartition(3), "grp", "k").collect()}
    b = {r["grp"]: r["est_distinct"]
         for r in grouped_hll_distinct(df.repartition(17), "grp", "k").collect()}
    assert a == b and len(a) == 4


def test_grouped_kll_quantiles(spark):
    """Per-group KLL medians within the rank-eps band of the exact
    per-group quantiles."""
    from cuckoofilter_spark.sketch.aggregates import grouped_kll_quantiles
    from cuckoofilter_spark.kernels.kll import KLLSketch

    df = spark.range(30000).selectExpr(
        "concat('s', id % 2) AS src",
        "CAST(CASE WHEN id % 2 = 0 THEN id % 1000 ELSE (id % 100) * (id % 100) END AS DOUBLE) AS v")
    rows = grouped_kll_quantiles(df, "src", "v", qs=(0.5,), k=200).collect()
    assert len(rows) == 2
    eps = KLLSketch(k=200).eps
    for r in rows:
        exact = sorted(x["v"] for x in df.where(F.col("src") == r["src"]).collect())
        n = len(exact)
        lo = exact[max(0, int((0.5 - 3 * eps) * n))]
        hi = exact[min(n - 1, int((0.5 + 3 * eps) * n))]
        assert lo <= r["value"] <= hi, (r, lo, hi)


def test_grouped_sketch_bigint_group_ids(spark):
    """Integer group ids above 2^53 with a NULL group present must
    survive the pandas stages exactly (nullable int64 -> float64 would
    round them); groups keep their original dtype on output."""
    from cuckoofilter_spark.sketch.aggregates import grouped_hll_distinct, \
        grouped_mg_topk

    big = [9007199254740993, 9007199254740995, None]  # 2^53+1, 2^53+3
    # skewed: a planted heavy hitter per group (uniform counts would
    # legitimately compact an MG summary to empty)
    rows = [(g, 7) for g in big for _ in range(40)] + \
        [(g, i) for g in big for i in range(30)]
    df = spark.createDataFrame(rows, "gid long, k long").repartition(5)
    got = {r["gid"]: r["est_distinct"]
           for r in grouped_hll_distinct(df, "gid", "k", p=12).collect()}
    assert set(got) == set(big), got  # ids exact, incl. the NULL group
    hh = grouped_mg_topk(df, "gid", "k", k=8, topn=2).collect()
    assert {r["gid"] for r in hh} == set(big)
    with pytest.raises(TypeError, match="string or integer"):
        grouped_hll_distinct(df.selectExpr("CAST(gid AS DOUBLE) AS gid", "k"),
                             "gid", "k")


def test_repetition_stats_null_text_matches_oracle(spark):
    """NULL text = empty doc on BOTH engines (Spark size(NULL) = -1 and
    DuckDB list_distinct NULL-dropping would otherwise diverge)."""
    import duckdb

    from cuckoofilter_spark.ops.text import repetition_stats

    data = [(1, None), (2, ""), (3, "a b a"), (4, "x")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_grams, r.dup_word_e6, r.dup_gram_e6)
           for r in repetition_stats(df, "doc_id", "text").collect()}
    assert got[1] == (0, 1, 0, 0) and got[1] == got[2]

    import __spark_entry__ as e
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    ora = {r[0]: tuple(int(x) for x in r[1:]) for r in
           con.execute(e.oracle_sql()["repetition_stats"]).fetchall()}
    assert ora == got, (ora, got)


def test_cross_doc_duplicate_grams(spark):
    """Planted boilerplate shared by 3 docs must be flagged in each,
    while unique text contributes zero; whole-short-doc convention and
    within-doc repeats (not cross-doc) stay unflagged."""
    from cuckoofilter_spark.ops.dedup import cross_doc_duplicate_grams

    boiler = "all rights reserved contact admin example dot com"
    docs = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"{boiler} totally different middle words here okay"),
        (3, f"prefix words {boiler} suffix words trail end"),
        (4, "unique text with no overlap at all whatsoever present"),
        (5, "short doc"),
        (6, "rep rep rep rep rep rep rep rep"),  # within-doc only
    ]
    out = {r["doc"]: r for r in cross_doc_duplicate_grams(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "doc_id", "text", k=5).collect()}
    assert out[4]["dup_grams"] == 0
    assert out[5]["n_grams"] == 1 and out[5]["dup_grams"] == 0
    assert out[6]["dup_grams"] == 0  # within-doc repeat, 1 distinct doc
    for d in (1, 2, 3):  # the 8-word boilerplate = 4 shared 5-grams
        assert out[d]["dup_grams"] >= 4, (d, out[d])
        assert 0 < out[d]["dup_frac_e6"] < 1000000


def test_contamination_check(spark):
    """A planted eval doc copied verbatim from a train doc must report
    ~full contamination through the AMQ path (no false negatives);
    clean eval text reports (near-)zero, bounded by the family eps."""
    from cuckoofilter_spark.ops.dedup import contamination_check

    leak = "the quick brown fox jumps over the lazy dog again and again today"
    train = spark.createDataFrame(
        [(i, f"filler t{i} " * 10 + (leak if i == 3 else "")) for i in range(40)],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, leak),
         (101, "completely unrelated eval question about quantum chromodynamics "
               "and baryon asymmetry in the early universe cosmology")],
        "doc_id long, text string")
    for kind in ("xor", "cuckoo"):
        got = {r["doc"]: r for r in contamination_check(
            train, test, "doc_id", "text", k=8, kind=kind).collect()}
        n100 = got[100]["n_grams"]
        assert got[100]["amq_hit_grams"] == n100, (kind, got[100])  # no FN
        assert got[101]["amq_hit_grams"] <= max(2, got[101]["n_grams"] // 10), \
            (kind, got[101])


def test_winnow_degenerate_docs_match_oracle(spark):
    """Zero-word docs (NULL / empty / whitespace text) must fingerprint
    identically on both engines: Spark emits md5('') & mask; the DuckDB
    oracle's array_to_string([]) is NULL and needed COALESCE."""
    import duckdb

    import __spark_entry__ as e
    from cuckoofilter_spark.ops.text import winnow_fingerprints

    data = [(1, None), (2, ""), (3, "   "), (4, "a b c d e f g h")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {(r.doc_id, r.fp) for r in
           winnow_fingerprints(df, "doc_id", "text").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    ora = {(r[0], r[1]) for r in
           con.execute(e.oracle_sql()["winnow_fingerprint"]).fetchall()}
    assert got == ora, (sorted(got - ora)[:3], sorted(ora - got)[:3])
    assert {d for d, _ in got} == {1, 2, 3, 4}  # degenerates kept


def test_tail_filter_rejects_overflowing_geometry():
    """lgm + tb + 1 > 64 would wrap the numpy shift in _split and
    silently corrupt every key/tail (measured 12% FP at a 2^-60 design
    eps before the guard); construction must refuse."""
    from cuckoofilter_spark.kernels.tail import TailFilter

    with pytest.raises(ValueError, match="64-bit pair encoding"):
        TailFilter(lgm=10, epsilon=2.0 ** -60)
    f = TailFilter(lgm=10, epsilon=2.0 ** -52)  # 10+52+1=63: legal
    keys = _rand_keys(1000, 3)
    f.add_many(keys)
    assert f.contains_many(keys).all()
    rng = np.random.default_rng(4)
    neg = rng.integers(0, 1 << 63, size=100_000, dtype=np.uint64)
    assert f.contains_many(neg).mean() < 0.001


def test_unigram_xent_semantics(spark):
    """Hand-checkable corpus: common-word docs score low, rare/OOV docs
    score high (the perplexity-filter direction); NULL/empty docs score
    (0, 0); values are exact integer micro-nats."""
    import math

    from cuckoofilter_spark.ops.text import unigram_xent

    # corpus: 'the' x 8, 'cat' x 4, 'sat' x 2, singletons x 2; N = 16
    docs = [(1, "the the the the the the the the"),
            (2, "cat cat cat cat"),
            (3, "sat sat"),
            (4, "rare1 rare2"),
            (5, None), (6, "")]
    out = {r["doc"]: r for r in unigram_xent(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "doc_id", "text", vocab_size=3).collect()}
    N = 16
    nat = lambda p: round(-math.log(p) * 1e6)
    assert out[1]["xent_e6"] == nat(8 / N)      # all 'the'
    assert out[2]["xent_e6"] == nat(4 / N)
    assert out[3]["xent_e6"] == nat(2 / N)
    assert out[4]["xent_e6"] == nat(1 / N)      # OOV floor = 1/N
    assert out[5]["n_words"] == 0 and out[5]["xent_e6"] == 0
    assert (out[6]["n_words"], out[6]["xent_e6"]) == (0, 0)
    assert out[1]["xent_e6"] < out[2]["xent_e6"] < out[4]["xent_e6"]


def test_word_gram_hashes_vs_python_reference(spark):
    """The shared gram pipeline against an independent pure-Python
    reference (re.split + hashlib.md5 LE64 & 2^62-1) over assorted
    texts including unicode, repeats, and degenerate docs."""
    import hashlib
    import re
    import struct

    from cuckoofilter_spark.ops.dedup import word_gram_hashes

    def ref(text, k=3):
        ws = [w for w in re.split(r"\s+", (text or "").strip()) if w]
        grams = ([" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)]
                 if len(ws) >= k else [" ".join(ws)])
        mask = (1 << 62) - 1
        return sorted(
            struct.unpack("<Q", hashlib.md5(g.encode()).digest()[:8])[0] & mask
            for g in grams)

    texts = [None, "", "  ", "one", "one two", "a b c d e",
             "tab\tand\nnewline  separated words here",
             "répété répété unicode tökens ünd mòre wörds",
             "x " * 50]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {}
    for r in word_gram_hashes(df, "doc_id", "text", k=3).collect():
        got.setdefault(r["doc"], []).append(r["h"])
    for i, t in enumerate(texts):
        assert sorted(got[i]) == ref(t), (i, t)
