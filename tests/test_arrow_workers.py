"""Library Python workers take and return Arrow batches, never pandas.

One decoder (``udaf.keys_u64``) turns an Arrow key column into uint64
keys and drops the NULL elements of a list column, so no per-element
JVM expression sits in front of a build; a list batch folded to its
distinct keys (``udaf.folded_u64``) gives the folding kernels the same
bytes; the converted modules import no pandas; caller columns passed
through a worker keep their exact 64-bit values; the checkpointed
cuckoo build runs the same by-key scaffold as ``cuckoo_build``.
"""
import ast
import os

import numpy as np
import pyarrow as pa
import pytest

from cuckoofilter_spark.kernels.cms import CountMinSketch
from cuckoofilter_spark.kernels.cqf import CountingQuotientFilter
from cuckoofilter_spark.kernels.hll import HyperLogLog
from cuckoofilter_spark.sketch.udaf import add_batch, folded_u64, keys_u64

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


def test_keys_u64_drops_null_list_slots_and_elements():
    """A build's list column adds only its non-NULL elements, in order:
    a NULL slot adds nothing even when its offsets span child values,
    and the slice's offsets are honoured. A NULL scalar is still key 0."""
    values = pa.array([1, None, 3, 98, 99, 4, None, -5, 6, 7], pa.int32())
    offsets = pa.array([0, 3, 5, 6, 7, 7, 9, 9, 10], pa.int32())
    mask = pa.array([False, True, False, False, False, False, True, False])
    lists = pa.ListArray.from_arrays(offsets, values, mask=mask)
    assert lists.to_pylist() == [[1, None, 3], None, [4], [None], [],
                                 [-5, 6], None, [7]]
    for arr, want in ((lists, [1, 3, 4, -5, 6, 7]),
                      (lists.slice(1, 6), [4, -5, 6])):
        np.testing.assert_array_equal(
            keys_u64(arr), np.array(want, dtype=np.int64).view(np.uint64))
    assert keys_u64(pa.array([None, 2], pa.int64())).tolist() == [0, 2]


def test_keys_u64_refuses_strings():
    with pytest.raises(TypeError, match="xxhash64"):
        keys_u64(pa.array(["a", "b"]))


def _list_batches():
    """``array<int>`` batches of every shape a worker meets: each element
    width, sliced, chunked, NULL list slots and NULL elements, empty
    arrays, and a batch with no elements at all."""
    rng = np.random.default_rng(11)
    out = {}
    for t in (pa.int8(), pa.int16(), pa.int32(), pa.int64()):
        hi = min(2**31, 2 ** (t.bit_width - 1))
        cells = [None if rng.random() < 0.05 else
                 [None if rng.random() < 0.05 else int(v)
                  for v in rng.integers(-hi, hi, rng.integers(0, 40))]
                 for _ in range(300)]
        cells[7] = []
        arr = pa.array(cells, pa.list_(t))
        out[f"{t}"] = arr
        out[f"{t}-sliced"] = arr.slice(41, 170)
        out[f"{t}-chunked"] = pa.chunked_array([arr.slice(0, 90),
                                                arr.slice(200)])
    out["empty"] = pa.array([[], None, []], pa.list_(pa.int32()))
    return out


_KERNELS = {"hll": lambda: HyperLogLog(p=10, seed=3),
            "cms": lambda: CountMinSketch(width=257, depth=3, seed=3),
            "cqf": lambda: CountingQuotientFilter(q=8, r=12, seed=3)}


@pytest.mark.parametrize("kernel", sorted(_KERNELS))
@pytest.mark.parametrize("batch", sorted(_list_batches()))
def test_folded_feed_is_byte_equal(kernel, batch):
    """HLL, CMS and CQF fed a list batch's distinct keys (and counts)
    hold the same bytes as when fed every occurrence."""
    arr = _list_batches()[batch]
    folded, every = _KERNELS[kernel](), _KERNELS[kernel]()
    add_batch(folded, arr)
    every.add_many(keys_u64(arr))
    assert folded.to_bytes() == every.to_bytes()


def test_folded_u64_is_the_distinct_keys_with_counts():
    arr = pa.array([[5, None, -1, 5], None, [], [5, 2**40]],
                   pa.list_(pa.int64())).slice(0, 4)
    keys, counts = folded_u64(arr, counts=True)
    got = dict(zip(keys.view(np.int64).tolist(), counts.tolist()))
    assert got == {5: 3, -1: 1, 2**40: 1}
    assert sorted(folded_u64(arr).view(np.int64).tolist()) == [-1, 5, 2**40]


class _Recorder:
    """A folding kernel that records what ``add_batch`` hands it."""

    feed = "counts"

    def __init__(self):
        self.calls = []

    def add_many(self, keys, counts=None):
        self.calls.append((keys, counts))


def test_scalar_column_takes_the_unfolded_feed():
    """A scalar batch reaches even a folding kernel key by key, in order
    and with repeats, each counted once (no hash pass)."""
    arr = pa.array([9, 9, -3, None, 9], pa.int64())
    rec = _Recorder()
    add_batch(rec, arr)
    [(keys, counts)] = rec.calls
    assert counts is None
    np.testing.assert_array_equal(keys, keys_u64(arr))
    rec = _Recorder()
    add_batch(rec, pa.array([[9, 9, -3]], pa.list_(pa.int64())))
    [(keys, counts)] = rec.calls
    assert dict(zip(keys.view(np.int64).tolist(), counts.tolist())) == {
        9: 2, -3: 1}


def test_by_key_partial_payload_is_unchanged():
    """The by-key partial folds each batch before its sort: the sorted
    distinct keys, hence every shard payload, are those of the unfolded
    batches."""
    from cuckoofilter_spark.sketch.membership import _pack_shards

    batches = list(_list_batches().values())
    want = np.unique(np.concatenate([keys_u64(b) for b in batches]))
    got = np.unique(np.concatenate([folded_u64(b) for b in batches]))
    np.testing.assert_array_equal(got, want)
    assert _pack_shards(got, 8) == _pack_shards(want, 8)


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


def test_array_key_projections_have_no_lambda(spark):
    """NULLs of an ``array<int>`` key column leave JVM-side only as whole
    rows (a codegen'd ``isNotNull``): no higher-order function rewrites
    the array between the scan and the sketch worker."""
    from cuckoofilter_spark.kernels.hll import HyperLogLog
    from cuckoofilter_spark.sketch.membership import _sharded_partials
    from cuckoofilter_spark.sketch.udaf import grouped_aggregate_sketch

    df = spark.createDataFrame([(1, [1, None, 3]), (2, None)],
                               "g int, tokens array<int>")
    for out in (_sharded_partials(df, "tokens", 32),
                grouped_aggregate_sketch(df, "g", "tokens", HyperLogLog)):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "isnotnull(tokens" in plan, plan
        assert "lambdafunction" not in plan, plan


def test_null_array_elements_add_nothing_to_register_sketches(spark):
    from cuckoofilter_spark.sketch.aggregates import cms_sketch, hll_sketch

    with_null = spark.createDataFrame([([1, None, 3],), ([4, 5],)],
                                      "k array<int>")
    without = spark.createDataFrame([([1, 3],), ([4, 5],)], "k array<int>")
    for build in (hll_sketch, cms_sketch):
        assert (build(with_null, "k").to_bytes()
                == build(without, "k").to_bytes()), build.__name__
