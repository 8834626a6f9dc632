"""Checkpointed sketch builds with per-partition lineage (resume support).

North-rule requirement: sketch pipelines over 10^12-sequence tables must
be *resumable from checkpoint with per-partition lineage + metrics*. The
reference is a single-process library with no notion of restart; its
only persistence is the raw Serialize dump (cuckoofilter.h:104-119). We
generalize that into a two-stage checkpointed build:

Stage 1 (scan, the expensive pass over the data):
    every input partition folds its rows into per-shard packed key
    blocks (``membership._sharded_partials``, the first half of the
    by-key build) and the result is written to
    ``{ckpt}/partials/`` as Parquet rows
    ``(lineage: string, shard: int, payload: binary)`` where ``lineage``
    (``p%06d`` of the input partition id) identifies the input
    partition deterministically. A JSON manifest
    ``{ckpt}/manifest.json`` pins the build parameters (seed, bits,
    shards, source fingerprint) — resuming with different parameters is
    refused, mirroring qf_merge's seed check (gqf.c:2434-2440).

Stage 2 (merge, cheap):
    group partials by shard and build the final filter blobs
    (``membership._build_shards``, the by-key build's second half).

Resume semantics: stage 1 output is written atomically by Spark's
Parquet committer; on restart, if the partials dataset exists and the
manifest matches, stage 1 is skipped entirely and the build restarts
from the checkpointed partials. A crashed stage-1 attempt leaves no
committed dataset (uncommitted task files are ignored by the committer),
so the restart re-runs stage 1 from the source — per-partition lineage
makes the partials content-deterministic, so any interleaving of
failures yields bit-identical final blobs (asserted in tests).

At 100 TB: the partials dataset is tiny (per partition x shard: packed
distinct keys, bounded by vocab), and checkpointing decouples the long
scan from the merge so a lost driver costs only the unmerged tail.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sketch.membership import (_FAMILIES, ShardedCuckooFilter,
                                 _build_shards, _shard_maker,
                                 _sharded_partials)


def _manifest_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "manifest.json")


def _partials_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "partials")


def _write_manifest(ckpt_dir: str, params: dict) -> None:
    os.makedirs(ckpt_dir, exist_ok=True)
    tmp = _manifest_path(ckpt_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(params, f, sort_keys=True)
    os.replace(tmp, _manifest_path(ckpt_dir))


def _read_manifest(ckpt_dir: str) -> dict | None:
    try:
        with open(_manifest_path(ckpt_dir)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def source_fingerprint(df: DataFrame) -> str:
    """Cheap content fingerprint of a DataFrame's source for the resume
    guard: sha256 over the sorted input-file list plus per-file (size,
    mtime) when the files are locally stat-able. Non-file sources (e.g.
    synthesized ranges) fingerprint as "nonfile:<n_files>" — resuming
    after a non-file source changed is NOT detected; pin such sources by
    their generation parameters instead (they are part of the manifest).
    """
    import hashlib
    from urllib.parse import unquote, urlparse

    files = sorted(df.inputFiles())
    if not files:
        return "nonfile:0"
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        u = urlparse(f)
        # handles file:///p, file:/p and bare paths alike
        p = unquote(u.path) if u.scheme in ("file", "") else None
        stamped = False
        if p:
            try:
                st = os.stat(p)
                h.update(f":{st.st_size}:{st.st_mtime_ns}".encode())
                stamped = True
            except OSError:
                pass
        if not stamped:
            # mark un-stat-able entries so the fingerprint records the
            # weaker evidence instead of silently equaling the strong one
            h.update(b":nostat")
        h.update(b"\n")
    return h.hexdigest()


def cuckoo_build_checkpointed(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    ckpt_dir: str,
    capacity: int,
    bits: int = 12,
    seed: int = 0x5EED,
    num_shards: int = 32,
) -> ShardedCuckooFilter:
    """Sharded cuckoo build with a stage-1 checkpoint at ``ckpt_dir``.

    Identical result to ``membership.cuckoo_build`` (same partial-shard
    packing, same per-shard bulk insert), but stage 1 lands in a Parquet
    checkpoint keyed by per-partition lineage and is skipped on resume.
    """
    params = {
        "kind": "cuckoo",
        "col": col,
        "capacity": int(capacity),
        "bits": int(bits),
        "seed": int(seed),
        "num_shards": int(num_shards),
        # refuses resume when the file-backed source changed underneath
        # the checkpoint (see source_fingerprint for the non-file caveat)
        "source": source_fingerprint(df),
        # shard routing function version: partials are packed BY SHARD,
        # so resuming them under a different shard_of silently
        # mis-routes every key. Round 4 switched splitmix64 -> xxh64;
        # manifests WITHOUT the field are pre-switch and must refuse.
        "shard_fn": "xxh64",
    }
    cuckoo = _FAMILIES["cuckoo"]
    cuckoo.check({"num_shards": num_shards})
    manifest = _read_manifest(ckpt_dir)
    partials = _partials_path(ckpt_dir)

    if manifest is not None:
        if manifest.get("shard_fn", "splitmix64") != params["shard_fn"]:
            raise ValueError(
                f"checkpoint at {ckpt_dir} was packed under shard_fn="
                f"{manifest.get('shard_fn', 'splitmix64')!r}; this build "
                f"routes by {params['shard_fn']!r} — resuming would "
                "mis-route every key. Rebuild from source.")
        stale = {k: v for k, v in manifest.items() if k in params and params[k] != v}
        if stale:
            raise ValueError(
                f"checkpoint at {ckpt_dir} was built with different parameters "
                f"({stale} vs {params}); refusing to resume (qf_merge seed-check "
                "semantics, gqf.c:2434-2440)")
    else:
        (_sharded_partials(df, col, num_shards)
         .select(F.format_string("p%06d", F.spark_partition_id())
                 .alias("lineage"), "shard", "payload")
         .write.mode("overwrite").parquet(partials))
        _write_manifest(ckpt_dir, dict(params, stage1_committed_at=time.time()))

    # Stage 2: build each shard from the checkpoint alone, with the
    # cuckoo family's own make_shard
    make_shard = _shard_maker(cuckoo, capacity, {
        **cuckoo.params, "bits": bits, "seed": seed, "num_shards": num_shards})
    blobs = _build_shards(
        spark.read.parquet(partials).select("shard", "payload"), num_shards,
        make_shard)
    return ShardedCuckooFilter(blobs, bits=bits, seed=seed)


def lineage_metrics(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Per-partition lineage metrics from the checkpoint: rows per
    (lineage, shard), payload bytes — the audit trail the north rule
    asks to retain alongside resumability."""
    p = spark.read.parquet(_partials_path(ckpt_dir))
    return (p.groupBy("lineage")
            .agg(F.count("*").alias("shard_rows"),
                 F.sum(F.length("payload")).alias("payload_bytes"),
                 (F.sum(F.length("payload")) / 8).cast("long").alias("distinct_keys"))
            .orderBy("lineage"))
