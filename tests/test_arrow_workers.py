"""Library Python workers take and return Arrow batches, never pandas.

One decoder (``udaf.keys_u64``) turns an Arrow key column into uint64
keys; the converted modules import no pandas; caller columns passed
through a worker keep their exact 64-bit values; the checkpointed cuckoo
build runs the same by-key scaffold as ``cuckoo_build``.
"""
import ast
import os

import numpy as np
import pyarrow as pa
import pytest

from cuckoofilter_spark.sketch.udaf import keys_u64

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "cuckoofilter_spark")
_ARROW_ONLY = ("sketch/udaf.py", "sketch/membership.py", "sketch/multimap.py",
               "sketch/gcsfilter.py", "sketch/store.py", "sketch/aggregates.py",
               "plans/checkpoint.py", "plans/pruning.py")
INT64_MIN = np.iinfo(np.int64).min


def test_keys_u64_flattens_a_sliced_list_array():
    rng = np.random.default_rng(3)
    cells = [list(rng.integers(-2**31, 2**31, rng.integers(0, 9)))
             for _ in range(200)]
    arr = pa.array(cells, pa.list_(pa.int32())).slice(37, 101)
    want = np.array([v for cell in arr.to_pylist() for v in cell],
                    dtype=np.int64).view(np.uint64)
    got = keys_u64(arr)
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, want)
    np.testing.assert_array_equal(keys_u64(pa.chunked_array([arr, arr])),
                                  np.concatenate([want, want]))


def test_keys_u64_sign_extends_narrow_ints():
    got = keys_u64(pa.array([-1, 5, -2**31], pa.int32()))
    np.testing.assert_array_equal(
        got, np.array([-1, 5, -2**31], dtype=np.int64).view(np.uint64))
    assert got[0] == np.uint64(2**64 - 1)


def test_keys_u64_null_is_key_zero():
    got = keys_u64(pa.array([2**63 - 1, None, INT64_MIN], pa.int64()))
    np.testing.assert_array_equal(
        got, np.array([2**63 - 1, 0, INT64_MIN], dtype=np.int64).view(np.uint64))


def test_keys_u64_refuses_strings():
    with pytest.raises(TypeError, match="xxhash64"):
        keys_u64(pa.array(["a", "b"]))


@pytest.mark.parametrize("rel", _ARROW_ONLY)
def test_worker_modules_import_no_pandas(rel):
    tree = ast.parse(open(os.path.join(_PKG, rel)).read())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported |= {a.name.split(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.add(node.module.split(".")[0])
    assert "pandas" not in imported, rel


@pytest.mark.parametrize("path", ["contains_sharded_cogroup",
                                  "multimap_lookup_sharded"])
def test_cogroup_probe_keeps_64bit_passthrough(spark, path):
    """A nullable bigint the caller passes through a cogroup probe comes
    back exact, with its NULL and its value above 2^53 in the same
    shard group (both rows share one key)."""
    from cuckoofilter_spark.sketch.membership import (
        _contains_sharded_cogroup, cuckoo_build)
    from cuckoofilter_spark.sketch.multimap import (multimap_build,
                                                    multimap_lookup_sharded)

    big = 2**53 + 1
    probe = spark.createDataFrame([(7, big), (7, None)], "k long, x long")
    keys = spark.createDataFrame([(7, 70)], "k long, v long")
    if path == "contains_sharded_cogroup":
        filt = cuckoo_build(keys, "k", capacity=64, num_shards=4)
        out = _contains_sharded_cogroup(probe, "k", filt, out_col="m")
    else:
        mm = multimap_build(keys, "k", "v", num_shards=4)
        out = multimap_lookup_sharded(probe, "k", mm)
    got = [r["x"] for r in out.collect()]
    assert sorted(got, key=lambda x: x is None) == [big, None]


def test_checkpointed_build_is_cuckoo_build(spark, tmp_path):
    """The checkpointed build runs ``cuckoo_build``'s scaffold: NULL
    array elements are stripped (never inserted as INT64_MIN) and the
    shard blobs are byte-equal."""
    from cuckoofilter_spark.plans.checkpoint import cuckoo_build_checkpointed
    from cuckoofilter_spark.sketch.membership import cuckoo_build

    df = spark.createDataFrame([([1, None, 3],), ([4],)], "k array<bigint>")
    kw = dict(capacity=256, bits=12, seed=7, num_shards=4)
    ck = cuckoo_build_checkpointed(spark, df, "k", str(tmp_path / "ck"), **kw)
    assert ck.num_items() == 3
    probe = np.array([1, 3, 4, INT64_MIN], dtype=np.int64).view(np.uint64)
    assert ck.contains_u64(probe).tolist() == [True, True, True, False]
    assert ck.blobs == cuckoo_build(df, "k", **kw).blobs
