"""The partial -> merge engine every Spark sketch build runs on.

The reference makes every structure look the same through one adapter:
construct, add, contain (``FilterAPI<Table>``,
benchmarks/filter-api.h:13-63). Here the adapter is the kernel itself.
A builder hands the engine a kernel factory (plus the kernel class when
the factory is not the class), and the kernel's own ``add_many``,
``merge``, ``to_bytes`` and ``from_bytes`` are the whole protocol:

- **update** (``add_batch``) is ``add_many`` of one Arrow batch of the
  key column, in the form the kernel class's ``feed`` names: float64
  values (``"values"``: KLL, t-digest), or uint64 keys decoded by
  ``keys_u64``, which flattens an ``array<int>`` column. A batch of
  an ``array<int>`` column is folded before it is decoded
  (``folded_u64``) for the kernels whose blob a fold cannot change:
  to its distinct keys for HLL (``"distinct"``), to distinct keys
  plus counts for ``add_many(keys, counts)`` of CMS and CQF
  (``"counts"``). So those kernels hash each distinct token once per
  batch, not every occurrence. Every other kernel (``"keys"``, the
  default) takes every key, and a scalar column is never folded;
- **merge** and **decode** are the class's ``merge`` and ``from_bytes``.
  One function (``_merge_blobs``) merges blobs in arrival order for the
  tree levels, the grouped merge and the driver's final merge.

Three shapes share it:

- **Global tree** (``aggregate_sketch``): ``mapInArrow`` over the
  projected key column only (Catalyst prunes the scan to it); each task
  folds its batches into one kernel and emits one blob, so the shuffle
  carries one blob per partition, whatever the row count. While more
  than ``fanout`` blobs remain, ``groupBy(pid % ceil(P/fanout))``
  ``.applyInArrow`` merges them (the treeAggregate shape, so the
  driver never receives more than ``fanout`` blobs even at 10^5
  partitions); the driver merges the rest.
- **Grouped** (``grouped_aggregate_sketch``): each task keeps one
  kernel per group it sees and emits ``(group, blob)`` partials; one
  blob-only ``groupBy(group).applyInArrow`` merges each group's
  partials.
- **By key** (``membership._sharded_build_blobs``): for kernels that do
  not merge (cuckoo, xor, shingle, tail, crate) the partial is the
  task's deduplicated keys, packed per key shard; one
  ``groupBy(shard).applyInArrow`` builds each shard's kernel from all
  of its keys.
  ``distinct_keys_u64`` is the same shape with the sorted keys as the
  payload. A partial folds each batch to its distinct keys
  (``folded_u64``) before it sorts them all.

Workers see Arrow batches only, never pandas: keys stay exact 64-bit
integers and group ids keep their own Arrow type.

NULL keys add nothing to a build, and no per-element JVM expression
sits in front of a worker: a codegen'd ``isNotNull`` row filter drops
NULL rows, and ``keys_u64`` drops the NULL elements (Arrow validity
bits) of an ``array<int>`` column after flattening.

Associativity and commutativity of the kernel merge (tested bit-exact
in tests/test_kernels.py) make the tree shape legal.

Scale notes (100 TB / 1000 executors): the partial stage reads
everything but shuffles only blobs; no stage collects row data to the
driver. Skewed keys do not matter to the tree (partials are
positional), and the by-key shape shuffles at most P x vocab keys.
"""

from __future__ import annotations

import gc
import math
import os
import sys
import zipimport
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F


_frozen_modules = 0  # len(sys.modules) at this process's last gc.freeze()


def worker_prologue() -> None:
    """Take pyspark's fixed per-task costs off a reused Python worker.

    A reused worker pays two costs on every task, whatever the task's
    size:

    - **Import caches.** Before every task pyspark calls
      ``importlib.invalidate_caches()`` (``setup_spark_files``). On
      CPython 3.11 every cached ``zipimporter`` then re-reads its whole
      archive directory: a worker holds about a dozen over
      ``pyspark.zip`` and two over the spark-core jar, ~0.2 cpu-s per
      task. The prologue drops Spark's own zip finders from
      ``sys.path_importer_cache``. A dropped finder is re-created on
      the next import from its path out of zipimport's directory
      cache, so imports keep working. Archives shipped with the job
      (``--py-files``, ``addPyFile``) live under the SparkFiles root
      and keep their finders, so the per-task invalidation still
      covers them. With no root set, every zip finder is dropped.
    - **Garbage collection.** After every task the daemon runs a full
      ``gc.collect()`` (pyspark ``daemon.py``), which walks every
      GC-tracked object in the worker: ~75k left by importing pyspark,
      pyarrow, numpy, pandas and this library, 12-25 ms per task. On a
      worker (never in the driver) the prologue collects once and then
      freezes what is left (``gc.freeze()``) the first time it runs in
      a process, and again only when ``len(sys.modules)`` has changed
      since. Every later collection, the daemon's and any automatic one
      inside a task, walks only the objects made since the freeze. A
      task's cyclic garbage is still collected; only objects alive at a
      freeze are kept, and freezes stop once the worker has imported
      what its tasks use.

    Call it as the first statement of each library Python worker
    function (a plain call: a decorator could hide the type hints an
    iterator ``arrow_udf`` takes its UDF type from).
    """
    global _frozen_modules
    from pyspark import SparkFiles

    on_worker = SparkFiles._is_running_on_worker
    root = SparkFiles._root_directory if on_worker else None
    keep = os.path.join(os.path.abspath(root), "") if root else None
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and not (
                keep and os.path.abspath(finder.archive).startswith(keep)):
            sys.path_importer_cache.pop(path, None)
    if on_worker and len(sys.modules) != _frozen_modules:
        gc.collect()
        gc.freeze()
        _frozen_modules = len(sys.modules)


def _is_list(arr: pa.Array) -> bool:
    return pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)


def _flat(arr: pa.Array) -> pa.Array:
    """One Arrow batch of a key column as one flat array: chunks
    combined, and an ``array<int>`` column flattened with
    ``flatten()``, which honours a sliced array's offsets (``.values``
    would return the parent's whole child array) and skips NULL list
    slots, then its NULL elements dropped."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if _is_list(arr):
        arr = arr.flatten()
        if arr.null_count:
            arr = arr.drop_null()
    return arr


def keys_u64(arr: pa.Array) -> np.ndarray:
    """One Arrow batch of a key column -> uint64 keys (bit-view of int64).

    An ``array<int>`` column is flattened and its NULL elements dropped
    (``_flat``). int8/16/32 are sign-extended to int64, then every key
    is bit-viewed, so build and probe agree whatever the signedness. A
    NULL scalar (a probe key; builds drop NULL rows JVM-side) becomes
    key 0, the shard ``shard_col`` routes it to. Floats and strings
    must be keyified Spark-side first (``F.xxhash64`` — JVM,
    vectorized): raise rather than guess.
    """
    arr = _flat(arr)
    if not pa.types.is_integer(arr.type):
        raise TypeError(
            f"sketch keys must be integers (got {arr.type}); "
            "hash other types Spark-side with F.xxhash64(...) first")
    if arr.null_count:
        arr = arr.fill_null(0)
    return arr.to_numpy().astype(np.int64, copy=False).view(np.uint64)


def folded_u64(arr: pa.Array, counts: bool = False):
    """``keys_u64`` of one batch, folded to its distinct keys first when
    it is a batch of an ``array<int>`` column.

    The fold is one Arrow hash pass over the flattened elements
    (``pc.unique``; ``pc.value_counts`` with ``counts``), so the decoder
    and the kernel see each distinct key once per batch. With
    ``counts`` it returns ``(keys, counts)``. A scalar batch is decoded
    as it is, each key once (``counts`` None): a list batch repeats keys
    of a bounded vocabulary (the token table's batches are ~4% distinct),
    while on an all-distinct scalar batch the hash pass would cost
    several times the kernel work it saves.
    """
    if not _is_list(arr):
        keys = keys_u64(arr)
        return (keys, None) if counts else keys
    arr = _flat(arr)
    if not counts:
        return keys_u64(pc.unique(arr))
    vc = pc.value_counts(arr)
    return keys_u64(vc.field("values")), vc.field("counts").to_numpy()


def require_key_col(df: DataFrame, col: str) -> bool:
    """Validate that ``col`` is integer or array<integer>; return is_array.

    Raises eagerly (driver-side) with the keyify hint instead of letting
    an executor-side CAST error surface mid-job.
    """
    dt = df.schema[col].dataType
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        if not isinstance(dt.elementType, T.IntegralType):
            raise TypeError(
                f"column {col!r} is array<{dt.elementType.simpleString()}>; sketch keys "
                "must be integers — hash Spark-side with F.xxhash64(...) first")
        return True
    if not isinstance(dt, T.IntegralType):
        raise TypeError(
            f"column {col!r} has type {dt.simpleString()}; sketch keys must be "
            "integers — hash Spark-side with F.xxhash64(...) first")
    return False


def approx_distinct_capacity(df: DataFrame, col: str,
                             headroom: float = 1.15, slack: int = 64) -> int:
    """Distinct-cardinality estimate for sizing a filter when the
    caller didn't pass the known count (the reference's add_count):
    one ``approx_count_distinct`` pre-pass, scaled by ``headroom`` plus
    ``slack`` to absorb ACD's ~2% relative error. Array columns count
    distinct ELEMENTS. The single sizing policy for every builder —
    callers at scale should pass the known cardinality instead."""
    is_array = require_key_col(df, col)
    base = df.select(F.col(col).alias("k")).where(F.col("k").isNotNull())
    if is_array:
        base = base.select(F.explode("k").alias("k"))
    n = base.select(F.approx_count_distinct("k")).first()[0]
    return int(n * headroom) + int(slack)


def add_batch(kern, arr: pa.Array) -> None:
    """The update step: add one Arrow batch of the key column to
    ``kern`` in the form its class's ``feed`` names:

    - ``"values"``: float64 values (KLL, t-digest);
    - ``"distinct"``: the batch's distinct keys (``folded_u64``), for a
      kernel whose state a repeated key cannot change (HLL);
    - ``"counts"``: distinct keys plus their counts, as
      ``add_many(keys, counts)`` (CMS, CQF);
    - ``"keys"`` (no ``feed``): every key, as ``keys_u64`` decodes it.

    A kernel declares a fold only if its blob is the same either way;
    Bloom kinds (which count adds), MG (which compacts per chunk) and
    AMS keep every key.
    """
    feed = getattr(kern, "feed", "keys")
    if feed == "values":
        kern.add_many(arr.to_numpy(zero_copy_only=False).astype(np.float64))
    elif feed == "distinct":
        kern.add_many(folded_u64(arr))
    elif feed == "counts":
        kern.add_many(*folded_u64(arr, counts=True))
    else:
        kern.add_many(keys_u64(arr))


def _check_input(df: DataFrame, col: str, cls) -> None:
    """Driver-side: a key column (every kernel but a ``"values"`` one)
    must be integer or ``array<int>`` (``require_key_col``)."""
    if getattr(cls, "feed", "keys") != "values":
        require_key_col(df, col)


def _row_groups(groups: pa.Array):
    """``(value, row indices)`` per distinct value of ``groups``, in
    first-seen order; NULL is a value of its own."""
    enc = pc.dictionary_encode(groups, null_encoding="encode")
    codes = enc.indices.to_numpy()
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(1, len(enc.dictionary)))
    return zip(enc.dictionary.to_pylist(), np.split(order, bounds))


def _merge_blobs(cls, blobs) -> object:
    """Decode and merge blobs left to right with the kernel's own merge:
    the merge step of the tree levels, the grouped merge and the
    driver's final merge."""
    it = iter(blobs)
    kern = cls.from_bytes(bytes(next(it)))
    for b in it:
        kern = cls.merge(kern, cls.from_bytes(bytes(b)))
    return kern


def _merge_group(cls, finalize=None) -> Callable[[pa.Table], pa.Table]:
    """``applyInArrow`` body merging one group's ``(g, blob)`` rows into
    one row, keeping ``g``."""
    def merge_group(table: pa.Table) -> pa.Table:
        worker_prologue()
        kern = _merge_blobs(cls, table.column("blob").to_pylist())
        if finalize is not None:
            kern = finalize(kern) or kern
        return pa.table({"g": table.column("g").slice(0, 1),
                         "blob": pa.array([kern.to_bytes()], pa.binary())})

    return merge_group


def aggregate_sketch(df: DataFrame, col: str, make: Callable[[], object],
                     cls=None, *, fanout: int = 16):
    """Run the partial -> tree-merge -> final protocol; return the kernel.

    ``make()`` builds an empty kernel and ``cls`` is its class (omit it
    when ``make`` is the class). ``fanout`` is the tree's merge width.

    NULL keys contribute nothing (NULL rows dropped JVM-side by a row
    filter, NULL array elements dropped by ``keys_u64``), matching
    ``approx_distinct_capacity``'s sizing convention.
    """
    cls = cls or make
    _check_input(df, col, cls)
    proj = df.where(F.col(col).isNotNull()).select(F.col(col).alias("k"))

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        worker_prologue()
        kern = make()
        for b in batches:
            add_batch(kern, b.column("k"))
        yield pa.RecordBatch.from_pydict(
            {"blob": pa.array([kern.to_bytes()], pa.binary())})

    # key partials DENSE (0..P-1) so every tree level's pmod buckets are
    # balanced: one blob row per input partition, still sitting in that
    # partition, so spark_partition_id IS a dense row number.
    # monotonically_increasing_id is NOT usable here — it is
    # partitionId << 33, and pmod(p << 33, groups) is 0 for every p
    # whenever groups is even, which would collapse the whole tree into
    # ONE merge task (the degenerate shape this stage exists to avoid).
    blob_df = proj.mapInArrow(partial, schema="blob binary").select(
        F.spark_partition_id().cast("long").alias("g"), "blob")

    # each merged row keeps its group id: ids are dense 0..groups-1, so
    # the next level's pmod stays balanced
    merge_group = _merge_group(cls)
    level = df.rdd.getNumPartitions()
    while level > fanout:
        groups = math.ceil(level / fanout)
        blob_df = (
            blob_df.withColumn("g", F.pmod(F.col("g"), F.lit(groups)))
            .groupBy("g")
            .applyInArrow(merge_group, "g long, blob binary")
        )
        level = groups

    rows = blob_df.collect()
    if not rows:
        return make()
    return _merge_blobs(cls, (r["blob"] for r in rows))


def grouped_aggregate_sketch(
    df: DataFrame,
    group_col: str,
    col: str,
    make: Callable[[], object],
    cls=None,
    finalize: Callable[[object], object] | None = None,
) -> DataFrame:
    """Per-GROUP mergeable sketch: returns a ``(group, blob)`` DataFrame
    with one merged sketch per distinct ``group_col`` value.

    The grouped analogue of ``aggregate_sketch`` with the same map-side
    combine: stage 1 folds each task's Arrow batches into one kernel
    per group seen in that task and emits ``(group, blob)`` partials —
    shuffle volume is at most ``partitions x groups`` blobs, never row
    data; stage 2 is one blob-only groupBy merging each group's
    partials. NULL group values form their own group; NULL KEYS
    contribute nothing (a group whose keys are all NULL is absent).

    Intended for moderate group cardinality (sources, languages, date
    shards — the corpus-accounting axis). For per-key state at high
    cardinality use the exact aggregate (Catalyst hash agg) or the
    streaming stateful op (``streaming/stateful.py``); a sketch blob
    per key would cost more than the answer.

    ``make``/``cls`` are ``aggregate_sketch``'s. ``finalize``
    (optional) post-processes each merged kernel before serialization
    (e.g. MG ``compact``). Group column must be string or integral; the
    group keeps its type through both stages.
    """
    from pyspark.sql import types as T

    dt = df.schema[group_col].dataType
    if not isinstance(dt, (T.StringType, T.IntegralType)):
        raise TypeError(
            f"group column {group_col!r} has type {dt.simpleString()}; "
            "grouped sketches support string or integer groups")
    cls = cls or make
    _check_input(df, col, cls)
    schema = T.StructType([T.StructField("g", dt),
                           T.StructField("blob", T.BinaryType())])
    proj = df.where(F.col(col).isNotNull()).select(
        F.col(group_col).alias("g"), F.col(col).alias("k"))

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        worker_prologue()
        kerns: dict = {}
        for b in batches:
            gtype = b.schema.field("g").type
            for g, rows in _row_groups(b.column("g")):
                kern = kerns.get(g)
                if kern is None:
                    kern = kerns[g] = make()
                add_batch(kern, b.column("k").take(rows))
        if kerns:
            yield pa.RecordBatch.from_pydict(
                {"g": pa.array(list(kerns), gtype),
                 "blob": pa.array([k.to_bytes() for k in kerns.values()],
                                  pa.binary())})

    return (proj.mapInArrow(partials, schema=schema).groupBy("g")
            .applyInArrow(_merge_group(cls, finalize), schema))
