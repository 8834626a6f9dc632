"""Distributed mergeable-sketch aggregation protocol (the UDAF layer).

The reference's extension surface is the ``FilterAPI<Table>`` adapter
(benchmarks/filter-api.h:13-63) — construct / add / contain normalized
per structure. In Spark that becomes this module's protocol:

    partial (per partition, Arrow-vectorized)  ->  tree merge  ->  final

- **Stage 1 (partial):** ``mapInPandas`` over the projected key column
  only (Catalyst prunes the scan to that column); each task folds its
  Arrow batches into one numpy kernel and emits a single
  ``(pid, blob)`` row. This is the map-side combine: shuffle volume is
  one sketch blob per partition regardless of row count.
- **Stage 2 (tree merge):** while more blobs than ``fanout``, group by
  ``pid % ceil(P/fanout)`` and merge within groups via
  ``applyInPandas`` — the treeAggregate shape, so the driver never
  receives more than ``fanout`` blobs even at 10^5 partitions.
- **Stage 3 (final):** driver merges the surviving handful of blobs.

Associativity/commutativity of the kernel merge (tested bit-exact in
tests/test_kernels.py) is what makes the tree shape legal.

Scale notes (100 TB / 1000 executors): stage 1 reads everything but
shuffles only P blobs; stage 2 moves ≤ P blobs once; no stage depends
on collecting row data to the driver. Skewed key distributions do not
matter here (no groupBy on data keys — partials are positional).
"""

from __future__ import annotations

import math
import os
import sys
import zipimport
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

BLOB_SCHEMA = "pid long, blob binary"


def drop_archive_finders() -> None:
    """Drop Spark's own zip-archive finders from the import cache.

    Before every task a reused Python worker calls
    ``importlib.invalidate_caches()`` (pyspark ``setup_spark_files``).
    On CPython 3.11 every cached ``zipimporter`` then re-reads its whole
    archive directory: a worker holds about a dozen over ``pyspark.zip``
    and two over the spark-core jar, ~0.2 cpu-s per task — more than a
    small sketch partial's data work. A dropped finder is re-created on
    the next import from its path out of zipimport's directory cache, so
    imports keep working. Archives shipped with the job (``--py-files``,
    ``addPyFile``) live under the SparkFiles root and keep their
    finders, so the per-task invalidation still covers them. With no
    root set, every zip finder is dropped.

    Call it as the first statement of each library Python worker
    function (a plain call: a decorator could hide the type hints an
    iterator ``pandas_udf`` takes its UDF type from).
    """
    from pyspark import SparkFiles

    root = SparkFiles._root_directory if SparkFiles._is_running_on_worker else None
    keep = os.path.join(os.path.abspath(root), "") if root else None
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and not (
                keep and os.path.abspath(finder.archive).startswith(keep)):
            sys.path_importer_cache.pop(path, None)


def _null_safe_key(df: DataFrame, col: str):
    """(column, null_filter) for a sketch key projection.

    NULL handling must happen JVM-side, BEFORE Arrow: a scalar bigint
    column with NULLs reaches pandas as float64 (keys_to_u64 then
    raises a misleading type error), and a NULL ELEMENT inside an
    array<int> cell reaches pandas as NaN in a float64 array, which an
    unsafe int64 cast turns into INT64_MIN — a garbage key silently
    inserted. So: drop NULL rows, strip NULL elements.
    """
    from pyspark.sql import types as T

    c = F.col(col)
    if isinstance(df.schema[col].dataType, T.ArrayType):
        return F.filter(c, lambda x: x.isNotNull()), c.isNotNull()
    return c, c.isNotNull()


def keys_to_u64(s: pd.Series) -> np.ndarray:
    """Normalize an Arrow-delivered key Series to uint64 (bit-view of int64).

    int32/int64 are widened to int64 then reinterpreted; the same
    normalization runs at build and probe time so signedness never
    matters. Floats/strings must be keyified Spark-side first
    (``F.xxhash64`` — JVM, vectorized) — raise rather than guess.
    """
    if not pd.api.types.is_integer_dtype(s.dtype):
        raise TypeError(
            f"sketch keys must be integers (got {s.dtype}); "
            "hash other types Spark-side with F.xxhash64(...) first")
    return s.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)


_INT_TYPES = ("byte", "short", "int", "bigint", "long", "integer", "smallint", "tinyint")


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


def tokens_to_u64(s: pd.Series) -> np.ndarray:
    """Flatten an array<int> column batch to one uint64 key vector.

    Arrow already delivers each cell as a numpy array; concatenate with a
    target dtype does the widening in one C pass instead of a per-row
    ``np.asarray(..., int64)`` copy (3.3s -> ~0.15s on an 8.7M-token batch).
    """
    arrs = [a for a in s if a is not None and len(a)]
    if not arrs:
        return np.empty(0, dtype=np.uint64)
    return np.concatenate(arrs, dtype=np.int64, casting="unsafe").view(np.uint64)


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


def aggregate_sketch(
    df: DataFrame,
    col: str,
    make: Callable[[], object],
    update: Callable[[object, pd.Series], None],
    merge: Callable[[object, object], object],
    from_bytes: Callable[[bytes], object],
    fanout: int = 16,
):
    """Run the partial -> tree-merge -> final protocol; return the kernel.

    ``update(kernel, series)`` folds one Arrow batch of ``col`` into the
    kernel; ``merge`` must be the kernel's associative merge.

    NULL keys contribute nothing (rows dropped, array elements
    stripped — JVM-side, see ``_null_safe_key``), matching
    ``approx_distinct_capacity``'s sizing convention.
    """
    kc, nn = _null_safe_key(df, col)
    proj = df.where(nn).select(kc.alias("k"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_archive_finders()
        kern = make()
        pid = 0
        for pdf in batches:
            update(kern, pdf["k"])
        yield pd.DataFrame({"pid": [pid], "blob": [kern.to_bytes()]})

    blob_df = proj.mapInPandas(partial, schema=BLOB_SCHEMA)
    # re-key pids DENSE (0..P-1) so every tree level's pmod buckets are
    # balanced: one blob row per input partition, still sitting in that
    # partition, so spark_partition_id IS a dense row number.
    # monotonically_increasing_id is NOT usable here — it is
    # partitionId << 33, and pmod(p << 33, groups) is 0 for every p
    # whenever groups is even, which would collapse the whole tree into
    # ONE merge task (the degenerate shape this stage exists to avoid).
    blob_df = blob_df.withColumn(
        "pid", F.spark_partition_id().cast("long"))

    num_partials = df.rdd.getNumPartitions()

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_archive_finders()
        kern = from_bytes(bytes(pdf["blob"].iloc[0]))
        for b in pdf["blob"].iloc[1:]:
            kern = merge(kern, from_bytes(bytes(b)))
        # emit the GROUP id as the new pid: group ids are dense
        # 0..groups-1, so the next level's pmod stays balanced
        return pd.DataFrame({"pid": [int(pdf["g"].iloc[0])],
                             "blob": [kern.to_bytes()]})

    level = num_partials
    while level > fanout:
        groups = math.ceil(level / fanout)
        blob_df = (
            blob_df.withColumn("g", F.pmod(F.col("pid"), F.lit(groups)))
            .groupBy("g")
            .applyInPandas(merge_group, BLOB_SCHEMA)
        )
        level = groups

    rows = blob_df.collect()
    if not rows:
        return make()
    kern = from_bytes(bytes(rows[0]["blob"]))
    for r in rows[1:]:
        kern = merge(kern, from_bytes(bytes(r["blob"])))
    return kern


def grouped_aggregate_sketch(
    df: DataFrame,
    group_col: str,
    col: str,
    make: Callable[[], object],
    update: Callable[[object, pd.Series], None],
    merge: Callable[[object, object], object],
    from_bytes: Callable[[bytes], object],
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

    ``finalize`` (optional) post-processes each merged kernel before
    serialization (e.g. MG ``compact``).

    Group column must be string or integral. Integer groups travel
    through the pandas stages as their exact STRING form and are cast
    back at the end: a nullable int64 column entering mapInPandas
    becomes float64 in pandas, silently rounding group ids above 2^53
    (the same Arrow/pandas upcast trap as sketch/strhash.py) — the
    string round-trip is lossless for every int64.
    """
    from pyspark.sql import types as T

    dt = df.schema[group_col].dataType
    if not isinstance(dt, (T.StringType, T.IntegralType)):
        raise TypeError(
            f"group column {group_col!r} has type {dt.simpleString()}; "
            "grouped sketches support string or integer groups")
    gtype = dt.simpleString()
    schema = "g string, blob binary"
    kc, nn = _null_safe_key(df, col)
    proj = df.where(nn).select(F.col(group_col).cast("string").alias("g"),
                               kc.alias("k"))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_archive_finders()
        kerns: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g", dropna=False, sort=False):
                g = None if pd.isna(g) else g
                kern = kerns.get(g)
                if kern is None:
                    kern = kerns[g] = make()
                update(kern, sub["k"])
        if kerns:
            yield pd.DataFrame(
                {"g": pd.Series(list(kerns.keys()), dtype=object),
                 "blob": [k.to_bytes() for k in kerns.values()]})

    blob_df = proj.mapInPandas(partials, schema=schema)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_archive_finders()
        kern = from_bytes(bytes(pdf["blob"].iloc[0]))
        for b in pdf["blob"].iloc[1:]:
            kern = merge(kern, from_bytes(bytes(b)))
        if finalize is not None:
            kern = finalize(kern) or kern
        return pd.DataFrame({"g": pdf["g"].iloc[:1],
                             "blob": [kern.to_bytes()]})

    out = blob_df.groupBy("g").applyInPandas(merge_group, schema)
    return out.select(F.col("g").cast(gtype).alias("g"), "blob")
