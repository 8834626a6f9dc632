"""Golden blobs: every Spark sketch builder on fixed small inputs
produces exactly these bytes (sha256 of ``to_bytes()``; sharded
families hash their shard blobs in shard order).

A refactor of the build engine must keep these values. Inputs use at
most 16 partitions, so no tree level runs and every merge happens in a
fixed order. The 40-partition cases run one tree level; they cover only
kernels whose merge does not depend on order, and they must match the
flat build over the same rows.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.sketch import aggregates as agg, membership as mem
from cuckoofilter_spark.streaming.sketch_stream import \
    GroupedStreamingSketchState


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:16]


def _table(spark, n: int, parts: int):
    """``k`` long keys (negatives, duplicates), ``t`` array<bigint>
    with NULL elements, ``v`` doubles, ``g`` a 5-value group."""
    i = F.col("id")
    k = (i * 2654435761) % 20011 - 10000
    t = F.array(k, F.when(i % 13 == 0, F.lit(None)).otherwise(k * 3 + 1),
                i % 97)
    return spark.range(0, n, numPartitions=parts).select(
        k.alias("k"), t.alias("t"), ((i * 37) % 1000 / 7.0).alias("v"),
        (i % 5).alias("g"))


@pytest.fixture(scope="module")
def tables(spark):
    return {"flat": _table(spark, 6000, 8),
            "tree": _table(spark, 6000, 40),
            "one": _table(spark, 6000, 1),
            # 6 keys over 8-16 shards: most shards are empty
            "tiny": _table(spark, 6, 3)}


def _blob(x) -> str:
    return _sha(b"".join(x.blobs) if hasattr(x, "blobs") else x.to_bytes())


def _rows(df, *cols) -> str:
    return _sha(repr(sorted(tuple(r[c] for c in cols)
                            for r in df.collect())).encode())


def _grouped_state(tmp, df, kind, **params) -> str:
    st = GroupedStreamingSketchState(str(tmp), kind, "g",
                                     "v" if kind == "kll" else "t", **params)
    st.update(df, 0)
    return _sha(b"".join(b.to_bytes() for _g, b in sorted(st.load().items())))


# name -> (table, build(df, tmp_path) -> sha)
BUILDS = {
    "hll": ("flat", lambda d, _: _blob(agg.hll_sketch(d, "t", p=12, seed=7))),
    "cms": ("flat", lambda d, _: _blob(
        agg.cms_sketch(d, "t", eps=0.01, delta=0.05, seed=7))),
    "kll": ("flat", lambda d, _: _blob(agg.kll_sketch(d, "v", k=64, seed=7))),
    "mg": ("flat", lambda d, _: _blob(agg.mg_sketch(d, "t", k=32))),
    "ams": ("flat", lambda d, _: _blob(
        agg.ams_f2_sketch(d, "k", width=256, depth=3, seed=7))),
    "cqf": ("flat", lambda d, _: _blob(
        agg.cqf_sketch(d, "k", q=14, r=20, seed=7))),
    "tdigest": ("flat", lambda d, _: _blob(agg.tdigest_sketch(d, "v", delta=50))),
    "bloom": ("flat", lambda d, _: _blob(
        agg.bloom_sketch(d, "k", capacity=8000, seed=7))),
    "blocked_bloom": ("flat", lambda d, _: _blob(
        agg.blocked_bloom_sketch(d, "t", capacity=8000, seed=7))),
    "blocked_bloom64": ("flat", lambda d, _: _blob(
        agg.blocked_bloom64_sketch(d, "k", capacity=8000, seed=7))),
    "fixed_blocked_bloom": ("flat", lambda d, _: _blob(
        agg.fixed_blocked_bloom_sketch(d, "k", capacity=8000, seed=7))),
    "blocked_bloom_jvm": ("flat", lambda d, _: _blob(
        agg.blocked_bloom_jvm_sketch(d, "k", capacity=8000, seed=7))),
    "cuckoo": ("flat", lambda d, _: _blob(mem.cuckoo_build(
        d, "t", capacity=20000, bits=12, seed=7, num_shards=16))),
    "cuckoo_semisort": ("flat", lambda d, _: _blob(mem.cuckoo_build(
        d, "k", capacity=8000, bits=13, seed=7, num_shards=8,
        mode="semisort"))),
    "cuckoo_stable": ("flat", lambda d, _: _blob(mem.cuckoo_build(
        d, "k", capacity=8000, seed=7, num_shards=8, stable=True))),
    "cuckoo_jvm": ("flat", lambda d, _: _blob(mem.cuckoo_jvm_build(
        d, "k", capacity=8000, bits=16, seed=7, num_shards=8))),
    "shingle": ("flat", lambda d, _: _blob(mem.shingle_build(
        d, "k", capacity=8000, seed=7, num_shards=8))),
    "tail": ("flat", lambda d, _: _blob(mem.tail_build(
        d, "k", seed=7, num_shards=8))),
    "crate": ("flat", lambda d, _: _blob(mem.crate_build(
        d, "k", capacity=8000, seed=7, num_shards=8))),
    "xor_sharded": ("flat", lambda d, _: _blob(mem.xor_build_sharded(
        d, "k", seed=7, num_shards=8))),
    "distinct_keys": ("flat", lambda d, _: _sha(
        mem.distinct_keys_u64(d, "t").tobytes())),
    # empty shards: the builder's empty-shard blob fills them
    "tiny_cuckoo": ("tiny", lambda d, _: _blob(mem.cuckoo_build(
        d, "k", seed=7, num_shards=16))),
    "tiny_cuckoo_semisort": ("tiny", lambda d, _: _blob(mem.cuckoo_build(
        d, "k", capacity=100, bits=13, seed=7, mode="semisort"))),
    "tiny_cuckoo_stable": ("tiny", lambda d, _: _blob(mem.cuckoo_build(
        d, "t", capacity=100, seed=7, stable=True))),
    "tiny_cuckoo_jvm": ("tiny", lambda d, _: _blob(mem.cuckoo_jvm_build(
        d, "k", capacity=100, seed=7, num_shards=16))),
    "tiny_shingle": ("tiny", lambda d, _: _blob(mem.shingle_build(
        d, "k", capacity=100, seed=7, num_shards=16))),
    "tiny_tail": ("tiny", lambda d, _: _blob(mem.tail_build(
        d, "k", seed=7, num_shards=16))),
    "tiny_crate": ("tiny", lambda d, _: _blob(mem.crate_build(
        d, "k", capacity=100, seed=7, num_shards=16))),
    "tiny_xor_sharded": ("tiny", lambda d, _: _blob(mem.xor_build_sharded(
        d, "k", seed=7, num_shards=16))),
    "tiny_distinct_keys": ("tiny", lambda d, _: _sha(
        mem.distinct_keys_u64(d, "k").tobytes())),
    # grouped builds; merge order is fixed by one input partition unless
    # the kernel's merge does not depend on it (HLL, CMS)
    "grouped_hll": ("flat", lambda d, _: _rows(
        agg.grouped_hll_sketch(d, "g", "t", p=10, seed=7), "g", "blob")),
    "grouped_kll": ("one", lambda d, _: _rows(
        agg.grouped_kll_quantiles(d, "g", "v", qs=(0.1, 0.5, 0.9), k=32,
                                  seed=7), "g", "q", "value")),
    "grouped_mg": ("one", lambda d, _: _rows(
        agg.grouped_mg_topk(d, "g", "t", k=16, topn=5), "g", "key", "est")),
    "grouped_state_kll": ("one", lambda d, tmp: _grouped_state(
        tmp, d, "kll", k=32, seed=7)),
    "grouped_state_cms": ("flat", lambda d, tmp: _grouped_state(
        tmp, d, "cms", eps=0.01, delta=0.05, seed=7)),
}

# One tree level (40 partials, fanout 16): kernels whose merge does not
# depend on order give the flat build's bytes.
TREE = ("hll", "cms", "ams", "cqf", "bloom", "blocked_bloom",
        "blocked_bloom64", "fixed_blocked_bloom", "blocked_bloom_jvm")

GOLDEN = {
    "ams": "39839a9b929a467d",
    "blocked_bloom": "bd2c3ffb49e68b50",
    "blocked_bloom64": "106a6f394dcc370f",
    "blocked_bloom_jvm": "1c4c0036238e0b78",
    "bloom": "ba6b726d10b8eb04",
    "cms": "8424a8db5d0fb8e2",
    "cqf": "bc62a2e68c4db888",
    "crate": "6d88f3d60e62bbee",
    "cuckoo": "5e3f93d091ea4042",
    "cuckoo_jvm": "9493568541d5fb6b",
    "cuckoo_semisort": "b71e7c416aac4095",
    "cuckoo_stable": "a711ad0293a467dd",
    "distinct_keys": "7410a379d8015d9b",
    "fixed_blocked_bloom": "f5dbffdbadbb6f4b",
    "grouped_hll": "759ac2e53ae8e4a2",
    "grouped_kll": "009b921843a15d42",
    "grouped_mg": "9c2d86bd7325cf84",
    "grouped_state_cms": "adfe03e29d7c4bd0",
    "grouped_state_kll": "fafd887e156e12c2",
    "hll": "0fa9f5c522dbfb67",
    "kll": "3c57720d2553cfd2",
    "mg": "8de60a05c732111d",
    "shingle": "6d8165096d1f51ce",
    "tail": "e358e6ad275b2556",
    "tdigest": "87bb19ab053ff83e",
    "tiny_crate": "db1727f629d511af",
    "tiny_cuckoo": "e79a50e041bae745",
    "tiny_cuckoo_jvm": "f08d41718a201a31",
    "tiny_cuckoo_semisort": "07a6c499dca6de88",
    "tiny_cuckoo_stable": "932d28759eac2a01",
    "tiny_distinct_keys": "afd6878ea9b5a001",
    "tiny_shingle": "efa4c76e6ef24667",
    "tiny_tail": "7d6ea4fac90033f3",
    "tiny_xor_sharded": "d9d4c40894c71a63",
    "xor_sharded": "5ea00210d3777480",
}


@pytest.mark.parametrize("name", sorted(BUILDS))
def test_golden_blob(spark, tables, tmp_path, name):
    table, build = BUILDS[name]
    assert build(tables[table], tmp_path) == GOLDEN[name]


@pytest.mark.parametrize("name", TREE)
def test_golden_blob_tree_merge(spark, tables, tmp_path, name):
    _, build = BUILDS[name]
    assert tables["tree"].rdd.getNumPartitions() == 40
    assert build(tables["tree"], tmp_path) == GOLDEN[name]


# -- probe answers: the (k, hit) rows of every probe delivery ---------------
#
# Every family build_filter offers, built on the flat and tiny tables,
# answers 2k probe keys (half drawn from the table, half outside its key
# range) through contains_col. The sharded kinds also answer through
# contains_sharded's store delivery and the cogroup delivery, which must
# give the same rows; their store manifest's kind and store_id are pinned
# too, so the persisted store format is kept.

from cuckoofilter_spark.sketch.api import build_filter, contains_col, \
    filter_families
from cuckoofilter_spark.sketch.store import ShardBlobStore

SHARDED = ("cuckoo", "cuckoo_semisort", "cuckoo_stable", "shingle", "tail",
           "crate", "xor_sharded")


@pytest.fixture(scope="module")
def built(tables):
    cache = {}

    def get(table, kind):
        if (table, kind) not in cache:
            cache[table, kind] = build_filter(tables[table], "k", kind=kind,
                                              seed=7)
        return cache[table, kind]

    return get


def _probe_keys(spark, table):
    present = sorted(r["k"] for r in table.select("k").distinct().collect())
    keys = ([present[i * len(present) // 1000] for i in range(1000)]
            + [10**6 + 7919 * i for i in range(1000)])
    return spark.createDataFrame([(k,) for k in keys], "k long")


PROBE_GOLDEN = {
    "flat_blocked_bloom": "44c3d67855d4ebaa",
    "flat_blocked_bloom64": "44c3d67855d4ebaa",
    "flat_blocked_bloom_jvm": "44c3d67855d4ebaa",
    "flat_bloom": "1657b864414b6efa",
    "flat_crate": "40bcf0c6dc5c351f",
    "flat_cuckoo": "d4c04014ba87e2b3",
    "flat_cuckoo_jvm": "5fe24fe82534577c",
    "flat_cuckoo_semisort": "44c3d67855d4ebaa",
    "flat_cuckoo_stable": "972af17845c9ab1d",
    "flat_fixed_blocked_bloom": "3e2d49c9f09aee22",
    "flat_gcs": "bef0f350ef14265a",
    "flat_grow_bloom": "44c3d67855d4ebaa",
    "flat_shingle": "3aba425ebf4b095c",
    "flat_tail": "44c3d67855d4ebaa",
    "flat_xor": "2159731edcbb1151",
    "flat_xor_sharded": "f9137d62994a92bd",
    "flat_xorplus": "930f6bb09634ae80",
    "tiny_blocked_bloom": "20de25c5720e8e16",
    "tiny_blocked_bloom64": "20de25c5720e8e16",
    "tiny_blocked_bloom_jvm": "20de25c5720e8e16",
    "tiny_bloom": "20de25c5720e8e16",
    "tiny_crate": "20de25c5720e8e16",
    "tiny_cuckoo": "20de25c5720e8e16",
    "tiny_cuckoo_jvm": "20de25c5720e8e16",
    "tiny_cuckoo_semisort": "20de25c5720e8e16",
    "tiny_cuckoo_stable": "20de25c5720e8e16",
    "tiny_fixed_blocked_bloom": "20de25c5720e8e16",
    "tiny_gcs": "20de25c5720e8e16",
    "tiny_grow_bloom": "20de25c5720e8e16",
    "tiny_shingle": "20de25c5720e8e16",
    "tiny_tail": "20de25c5720e8e16",
    "tiny_xor": "66822b6282578c24",
    "tiny_xor_sharded": "c1cdc83d23883a1b",
    "tiny_xorplus": "e194186a76116033",
}

STORE_GOLDEN = {
    "flat_crate": ("crate", "d91f2df86648a54d"),
    "flat_cuckoo": ("cuckoo", "077b033cb4b85008"),
    "flat_cuckoo_semisort": ("cuckoo", "7d9bfcdab6b86009"),
    "flat_cuckoo_stable": ("cuckoo", "0c8477ec0be8b0c3"),
    "flat_shingle": ("shingle", "bb67847eac86d378"),
    "flat_tail": ("tail", "4c17dda9f4d02e66"),
    "flat_xor_sharded": ("xor", "94462b139059a855"),
    "tiny_crate": ("crate", "856a0a15ffe990d5"),
    "tiny_cuckoo": ("cuckoo", "2ad4fd6a1b8b5dc6"),
    "tiny_cuckoo_semisort": ("cuckoo", "37905acf71c206b2"),
    "tiny_cuckoo_stable": ("cuckoo", "5aa3d38dcf8ac998"),
    "tiny_shingle": ("shingle", "1ff8604f45c2b062"),
    "tiny_tail": ("tail", "ba6346bb4f2ec5ae"),
    "tiny_xor_sharded": ("xor", "5c6c7d70427dc040"),
}


@pytest.mark.parametrize("table,kind", [(t, k) for t in ("flat", "tiny")
                                        for k in filter_families()])
def test_golden_probe(spark, tables, built, table, kind):
    probe = _probe_keys(spark, tables[table])
    got = probe.withColumn("hit", contains_col(spark, built(table, kind), "k"))
    assert _rows(got, "k", "hit") == PROBE_GOLDEN[f"{table}_{kind}"]


@pytest.mark.parametrize("table,kind", [(t, k) for t in ("flat", "tiny")
                                        for k in SHARDED])
def test_golden_sharded_probe(spark, tables, built, tmp_path, table, kind):
    filt = built(table, kind)
    probe = _probe_keys(spark, tables[table])
    path = str(tmp_path / "store")
    store = _rows(mem.contains_sharded(probe, "k", filt, out_col="hit",
                                       store=path), "k", "hit")
    cogroup = _rows(mem._contains_sharded_cogroup(probe, "k", filt, "hit"),
                    "k", "hit")
    manifest = ShardBlobStore.open(path)
    assert store == cogroup == PROBE_GOLDEN[f"{table}_{kind}"]
    assert ((manifest.kind, manifest.store_id[:16])
            == STORE_GOLDEN[f"{table}_{kind}"])


# -- facade blobs: build_filter with capacity omitted -----------------------
#
# Every kind build_filter offers, with capacity omitted so each family's
# own sizing rule runs, on the flat and tiny tables' scalar key ``k`` and
# on the flat table's array column ``t`` (NULL elements included).

FACADE_CASES = (("flat", "k"), ("tiny", "k"), ("flat", "t"))

FACADE_GOLDEN = {
    "flat_k_blocked_bloom": "a5eec03cdf0f97eb",
    "flat_k_blocked_bloom64": "106a6f394dcc370f",
    "flat_k_blocked_bloom_jvm": "1c4c0036238e0b78",
    "flat_k_bloom": "5e64a9f89b6c78ca",
    "flat_k_crate": "e070153acc880be6",
    "flat_k_cuckoo": "031c4f14dcb7325b",
    "flat_k_cuckoo_jvm": "95106b6db7ecc669",
    "flat_k_cuckoo_semisort": "436ae3bb6e15e602",
    "flat_k_cuckoo_stable": "8af00d5bb8e72ded",
    "flat_k_fixed_blocked_bloom": "40ca4fc192317f7a",
    "flat_k_gcs": "150e236a2ad8f41d",
    "flat_k_grow_bloom": "f62b7111e403a271",
    "flat_k_shingle": "3595367a7af7ef3c",
    "flat_k_tail": "e358e6ad275b2556",
    "flat_k_xor": "2371f5c378ad98a7",
    "flat_k_xor_sharded": "84c70b9de27a79f3",
    "flat_k_xorplus": "feb25d1c201b13c8",
    "flat_t_blocked_bloom": "cff3bec5d5cf4e0e",
    "flat_t_blocked_bloom64": "c5e6753bc1557453",
    "flat_t_blocked_bloom_jvm": "60c52c285b733c31",
    "flat_t_bloom": "e0b2232721965cf3",
    "flat_t_crate": "899daef820d16cd6",
    "flat_t_cuckoo": "84db3c69ac1c4fec",
    "flat_t_cuckoo_jvm": "0ecb151d992cfeaa",
    "flat_t_cuckoo_semisort": "eb8c1fde0027e889",
    "flat_t_cuckoo_stable": "b1f2d5158350a4f2",
    "flat_t_fixed_blocked_bloom": "30e971ced4e343ba",
    "flat_t_gcs": "5faa851bfcc09684",
    "flat_t_grow_bloom": "87f43a81c46a59be",
    "flat_t_shingle": "3a563a946f1f3827",
    "flat_t_tail": "c2b01565eae598e1",
    "flat_t_xor": "14b1a46055e7dc51",
    "flat_t_xor_sharded": "85eb5fca0f610d86",
    "flat_t_xorplus": "5db3752a3393367c",
    "tiny_k_blocked_bloom": "86393fd048da4471",
    "tiny_k_blocked_bloom64": "4b9f2c116afb30c6",
    "tiny_k_blocked_bloom_jvm": "75d943f35be5cd56",
    "tiny_k_bloom": "9d0f272fda673612",
    "tiny_k_crate": "7f385b6c87e9e6e4",
    "tiny_k_cuckoo": "1ada748bfbee3de3",
    "tiny_k_cuckoo_jvm": "18dedbb9c4e61301",
    "tiny_k_cuckoo_semisort": "07a6c499dca6de88",
    "tiny_k_cuckoo_stable": "683a930c61aa3e39",
    "tiny_k_fixed_blocked_bloom": "373123f2b8a876ee",
    "tiny_k_gcs": "a41b7d5d706a0b5f",
    "tiny_k_grow_bloom": "7454b3f010767a3a",
    "tiny_k_shingle": "195273f7747e9911",
    "tiny_k_tail": "578b36c2cdb01340",
    "tiny_k_xor": "33d452b229713eb8",
    "tiny_k_xor_sharded": "f21e250d77ac6fe4",
    "tiny_k_xorplus": "d46792e536300926",
}


@pytest.mark.parametrize("table,col,kind", [(t, c, k) for t, c in FACADE_CASES
                                            for k in filter_families()])
def test_golden_facade_blob(spark, tables, built, table, col, kind):
    filt = (built(table, kind) if col == "k"
            else build_filter(tables[table], col, kind=kind, seed=7))
    assert _blob(filt) == FACADE_GOLDEN[f"{table}_{col}_{kind}"]
