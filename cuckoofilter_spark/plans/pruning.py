"""Sketch-indexed scan pruning (AMQ data skipping).

The canonical 100-TB use of an approximate-membership filter in a
lakehouse engine: keep ONE small filter per data file over a key
column, and answer "which files can possibly contain any of these
keys?" before scanning. A probe that touches a handful of keys then
reads a handful of files instead of the whole table — the distributed
analogue of the reference's Contain-before-expensive-lookup pattern
(cuckoofilter.h:163-205: a negative is certain, a positive is checked
downstream), with the "expensive lookup" being the parquet scan itself.

Guarantees (inherited from the kernels' no-false-negative property):

- a file containing any non-NULL probe key ALWAYS survives pruning —
  ``pruned_parquet`` + an exact join equals the unpruned semi-join;
- a false positive costs one extra file read, never a wrong answer;
- NULL keys never match an equality probe (semi-join semantics), so
  files are indexed over non-NULL keys only.

Scale shape: the index build shuffles packed key blobs per
(input-partition, file) — never rows — exactly like the sharded
filter builds (sketch/membership._sharded_build_blobs). The index
itself stays a DataFrame: probing it is a mapInArrow over index rows
with the (small, bounded) probe-key set broadcast, so per-file blobs
never collect to the driver — only the surviving file NAMES do. At
10^5-10^6 files that is a list of strings, not gigabytes of filter.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.cuckoo import CuckooFilter, CuckooFullError
from ..sketch.udaf import _row_groups, drop_archive_finders, folded_u64, require_key_col

_INDEX_SCHEMA = "file string, n_keys long, blob binary"


def _build_file_filter(keys: np.ndarray, bits: int, seed: int) -> CuckooFilter:
    """One per-file filter over the file's distinct keys, sized with
    ~0.9 max load headroom; on the (rare) saturation of an unlucky
    layout, rebuild at double capacity (cuckoofilter.h:91-100 sizing
    doubles the same way when frac > 0.94)."""
    cap = max(64, int(keys.size / 0.9))
    for _ in range(3):
        filt = CuckooFilter.create(cap, bits=bits, seed=seed)
        try:
            filt.add_many(keys)
            return filt
        except CuckooFullError:
            cap *= 2
    raise CuckooFullError(f"file filter saturated at capacity {cap}")


def file_sketch_index(spark: SparkSession, path: str, col: str,
                      bits: int = 12, seed: int = 0x5EED) -> DataFrame:
    """Build a (file, n_keys, blob) index — one cuckoo filter per
    parquet file of ``path``, over the non-NULL keys of ``col``.

    Plan: scan tags each row with its source file
    (``_metadata.file_path``, constant-folded per split — no shuffle of
    anything but the packed per-(partition, file) key blobs), one
    groupBy(file) builds each file's filter where that file's keys
    landed. Persist the result with ``.write.parquet`` to reuse across
    probes (it is tiny: ~13 bits per distinct key).
    """
    return _index_df(spark.read.parquet(path), col, bits=bits, seed=seed)


def _index_files(spark: SparkSession, path: str, files: list[str], col: str,
                 bits: int, seed: int) -> DataFrame:
    """Index a subset of a table's files (incremental maintenance)."""
    schema = spark.read.parquet(path).schema
    return _index_df(spark.read.schema(schema).parquet(*files), col,
                     bits=bits, seed=seed)


def _index_df(df: DataFrame, col: str, bits: int, seed: int) -> DataFrame:
    require_key_col(df, col)
    base = df.where(F.col(col).isNotNull()).select(
        F.col("_metadata.file_path").alias("file"), F.col(col).alias("k"))

    def partial_blobs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_archive_finders()
        per_file: dict[str, list[np.ndarray]] = {}
        for b in batches:
            for fname, rows in _row_groups(b.column("file")):
                per_file.setdefault(fname, []).append(
                    folded_u64(b.column("k").take(rows)))
        yield pa.RecordBatch.from_pydict({
            "file": pa.array(list(per_file), pa.string()),
            "keys": pa.array([np.unique(np.concatenate(parts)).tobytes()
                              for parts in per_file.values()], pa.binary())})

    packed = base.mapInArrow(partial_blobs, schema="file string, keys binary")

    def build_file(table: pa.Table) -> pa.Table:
        drop_archive_finders()
        keys = np.unique(np.concatenate(
            [np.frombuffer(b, dtype=np.uint64)
             for b in table.column("keys").to_pylist()]))
        filt = _build_file_filter(keys, bits=bits, seed=seed)
        return pa.table({"file": table.column("file").slice(0, 1),
                         "n_keys": pa.array([keys.size], pa.int64()),
                         "blob": pa.array([filt.to_bytes()], pa.binary())})

    return packed.groupBy("file").applyInArrow(build_file, _INDEX_SCHEMA)


def update_file_sketch_index(spark: SparkSession, path: str, col: str,
                             index: DataFrame,
                             bits: int = 12, seed: int = 0x5EED) -> DataFrame:
    """Incrementally maintain a persisted index as files arrive.

    Per-file filters are independent, so appended data never requires
    a rebuild: index ONLY the files of ``path`` absent from ``index``
    and union them in. Files that disappeared (compaction, retention)
    drop out — a stale survivor would only cost a pruned-read miss,
    but dropping keeps ``prune_files`` scanning exactly the live file
    set. Build cost is proportional to NEW data, the maintenance shape
    a 100-TB ingest loop needs.
    """
    df = spark.read.parquet(path)
    require_key_col(df, col)
    live = df.select(
        F.col("_metadata.file_path").alias("file")).distinct()
    known = index.select("file").distinct()
    new_files = [r.file for r in live.join(known, "file", "left_anti").collect()]
    kept = index.join(live, "file", "left_semi")
    if not new_files:
        return kept
    fresh = _index_files(spark, path, new_files, col, bits=bits, seed=seed)
    return kept.unionByName(fresh)


def _probe_keys_u64(probe: DataFrame | np.ndarray | list, col: str | None) -> np.ndarray:
    """Normalize the probe-key set to distinct uint64 — a DataFrame
    column is collected (the probe set is bounded by contract: pruning
    is for selective probes; an unbounded probe side is a join, not a
    prune)."""
    if isinstance(probe, DataFrame):
        if col is None:
            raise ValueError("pass col= with a DataFrame probe set")
        rows = probe.select(F.col(col).alias("k")).where(
            F.col(col).isNotNull()).distinct().collect()
        arr = np.array([r.k for r in rows], dtype=np.int64).view(np.uint64)
    else:
        arr = np.asarray(probe, dtype=np.int64).view(np.uint64)
    return np.unique(arr)


def prune_files(spark: SparkSession, index: DataFrame,
                probe: DataFrame | np.ndarray | list,
                col: str | None = None) -> list[str]:
    """Files that MAY contain at least one probe key (no false
    negatives; false positives bounded by the filters' epsilon).

    Distributed probe: broadcast the key set, mapInArrow over index
    rows — each task deserializes only its files' blobs.
    """
    keys = _probe_keys_u64(probe, col)
    if keys.size == 0:
        return []
    bc = spark.sparkContext.broadcast(keys)

    def probe_rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_archive_finders()
        ks = bc.value
        for b in batches:
            hits = [bool(CuckooFilter.from_bytes(x).contains_many(ks).any())
                    for x in b.column("blob").to_pylist()]
            yield pa.RecordBatch.from_pydict(
                {"file": b.column("file"), "hit": pa.array(hits, pa.bool_())})

    out = (index.mapInArrow(probe_rows, schema="file string, hit boolean")
                .where(F.col("hit")).select("file").collect())
    # set(): a duplicate index row (e.g. a user union of two builds)
    # must not read its file twice — pruned_parquet duplicating rows
    # would break "pruned + exact join == unpruned semi-join"
    return sorted({r.file for r in out})


def pruned_parquet(spark: SparkSession, path: str, index: DataFrame,
                   probe: DataFrame | np.ndarray | list,
                   col: str | None = None) -> DataFrame:
    """Read only the files of ``path`` that may contain a probe key.

    The result is a strict superset of the rows whose key matches a
    probe key (filter false positives admit whole files), so compose
    with the exact predicate/join downstream — same contract as
    ``approx_semi_join``'s prefilter.
    """
    schema = spark.read.parquet(path).schema
    files = prune_files(spark, index, probe, col)
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)
