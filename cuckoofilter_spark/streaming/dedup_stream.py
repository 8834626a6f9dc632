"""Streaming dedup with cuckoo-filter state: the reference's Add/Contain
lifecycle (cuckoofilter.h:95-238) as a Structured Streaming operator.

Spark's native ``dropDuplicates`` on a stream keeps every seen key as an
exact state row, so state grows with the distinct-key count and eviction
needs a watermark (losing cross-window dedup). The AMQ trade the
reference exists for applies directly: hold a cuckoo filter per shard in
the state store and emit only rows whose key misses the filter.

Guarantees (the AMQ contract, inverted for dedup):
- **No false negatives in the filter -> no duplicates in the output.**
  Every previously-emitted key is in its shard's filter, so a true
  duplicate can never be emitted again (within filter capacity).
- A false positive (rate <= the published per-config fpp bound, e.g.
  ~0.0012% at 16-bit tags) drops a genuinely-new key. That is the
  documented trade vs exact dedup: bounded state (bits/item, not
  bytes/key) against a tiny unique-loss rate — the crawl-frontier /
  training-corpus "seen set" shape.

Scale shape: rows shuffle once on the shard key (the same hash
partitioning the state store uses); state volume is
``num_shards x filter_blob`` regardless of stream length; per-batch
work is one vectorized probe + add per shard. Micro-batch replays roll
the state store back to the batch's version, so emit-exactly-once is
inherited from the framework (unlike the foreachBatch recipe in
``sketch_stream`` which must guard replays itself).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, StructField, StructType

from ..kernels.cuckoo import CuckooFilter
from ..sketch.udaf import keys_u64, worker_prologue

_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])
_SHARD_COL = "__cfdedup_shard"


def streaming_dedup(
    stream_df: DataFrame,
    key_col: str,
    capacity_per_shard: int,
    bits: int = 16,
    num_shards: int = 32,
    seed: int = 0x5EED,
) -> DataFrame:
    """Emit only the first-seen row per integer key over an unbounded
    stream, using one cuckoo filter per shard as the seen-set state.

    Output schema == input schema; exactly one row is emitted per key,
    and for a key duplicated *within* one micro-batch the surviving row
    is an arbitrary first-encountered one (rows arrive at the state
    operator in post-shuffle order, not source arrival order — callers
    needing "earliest by timestamp" must pre-aggregate per key first).
    ``capacity_per_shard`` bounds the distinct keys a shard can absorb —
    the filter sizes itself with the reference's 0.94-load doubling rule
    and raises ``CuckooFullError`` beyond it, which surfaces as a query
    failure rather than silent duplicate leakage. Keys must be non-null
    integers; string keys should be pre-hashed to int64
    (``F.xxhash64``) by the caller, the library-wide convention. A NULL
    key fails the batch with an explicit error (an AMQ has no NULL
    slot; coalescing NULLs onto a real key would silently drop rows).
    """
    in_schema = stream_df.schema
    out_schema = StructType([f for f in in_schema.fields])
    params = dict(max_num_keys=capacity_per_shard, bits=bits)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState
               ) -> Iterator[pd.DataFrame]:
        worker_prologue()
        shard = int(key[0])
        cf = (CuckooFilter.from_bytes(bytes(state.get[0])) if state.exists
              else CuckooFilter.create(seed=(seed + shard) & 0xFFFFFFFF,
                                       **params))
        for pdf in pdfs:
            if _SHARD_COL in pdf.columns:
                pdf = pdf.drop(columns=[_SHARD_COL])
            if len(pdf) == 0:
                continue
            if pdf[key_col].isna().any():
                raise ValueError(
                    f"streaming_dedup: NULL in key column {key_col!r}; "
                    "filter NULLs or keyify with F.xxhash64 upstream")
            keys = keys_u64(pa.Array.from_pandas(pdf[key_col]))
            first = ~pd.Series(keys).duplicated().to_numpy()
            cand = keys[first]
            fresh = ~cf.contains_many(cand)
            if fresh.any():
                cf.add_many(cand[fresh])
            emit = np.zeros(len(pdf), dtype=bool)
            emit[np.flatnonzero(first)[fresh]] = True
            if emit.any():
                yield pdf.loc[emit]
        state.update((cf.to_bytes(),))

    keyed = stream_df.withColumn(
        _SHARD_COL,
        F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(num_shards)))
    return (keyed.groupBy(_SHARD_COL)
            .applyInPandasWithState(update, out_schema, _STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))
