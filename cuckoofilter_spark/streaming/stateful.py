"""Per-key stateful sketch maintenance: ``applyInPandasWithState``.

``sketch_stream`` covers GLOBAL sketches (state = one blob, foreachBatch
merge). When the state is keyed — per-source distinct-token counts,
per-user frequency sketches — the Spark-native shape is the arbitrary
stateful operator: ``groupBy(key).applyInPandasWithState`` with one
serialized sketch blob per key held in the state store, merged with each
micro-batch's contribution for that key.

Scale shape: state volume = (#keys x blob size), partitioned by key in
the state store; each micro-batch shuffles only the new rows for each
key to its state partition (the same hash partitioning the state store
uses, one exchange). Sketch blobs are a few kB (HLL p=12 = 4 kB), so
even millions of keys hold. Timeouts evict idle keys — the sketch is
emitted one last time before eviction so downstream sinks keep the
final value.

The reference has no streaming surface (SURVEY §2.6); this is the
extension its mergeable-sketch algebra implies, expressed with Spark's
own stateful-operator machinery rather than a hand-rolled state table.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, LongType,
                               StructField, StructType)

from ..kernels.hll import HyperLogLog
from ..sketch.udaf import drop_archive_finders

_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def _out_schema(key_type) -> StructType:
    # the output key column mirrors the grouping column's type (a
    # hard-coded StringType would make integer keys fail Arrow
    # conversion at runtime)
    return StructType([
        StructField("key", key_type),
        StructField("estimate", DoubleType()),
        StructField("n_rows", LongType()),
    ])


def streaming_distinct_by_key(
    stream_df: DataFrame,
    key_col: str,
    token_col: str,
    p: int = 12,
    seed: int = 0x5EED,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key distinct-token estimates over an unbounded stream.

    Returns the update-mode DataFrame ``(key, estimate, n_rows)`` — one
    row per key per micro-batch that touched it. State per key is one
    HLL blob; merge with the batch contribution is the bit-exact
    register max, so the result is independent of micro-batch
    boundaries (asserted in tests against the one-shot batch build).

    ``token_col`` may be an int column or an array<int> column (token
    sequences); arrays are flattened inside the state function. NULL
    array elements add nothing (the library's build rule); a NULL row
    fails the micro-batch with a ValueError.
    """
    if isinstance(stream_df.schema[token_col].dataType, ArrayType):
        # drop NULL elements JVM-side: one NULL would make pandas turn
        # the whole batch's lists into float64 (NULL -> INT64_MIN, tokens
        # above 2^53 rounded); array_compact keeps a NULL row NULL
        stream_df = stream_df.withColumn(token_col,
                                         F.array_compact(token_col))
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if idle_timeout_ms
               else GroupStateTimeout.NoTimeout)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState
               ) -> Iterator[pd.DataFrame]:
        drop_archive_finders()
        import numpy as np

        if state.hasTimedOut:
            (blob,) = state.get
            sk = HyperLogLog.from_bytes(bytes(blob))
            state.remove()
            yield pd.DataFrame({"key": [key[0]], "estimate": [sk.estimate()],
                                "n_rows": [-1]})  # -1 marks the eviction emit
            return
        sk = (HyperLogLog.from_bytes(bytes(state.get[0])) if state.exists
              else HyperLogLog(p=p, seed=seed))
        n = 0
        for pdf in pdfs:
            col = pdf[token_col]
            n += len(pdf)
            if len(pdf) == 0:
                continue
            if col.isna().any():
                # explicit, actionable failure (matches streaming_dedup)
                # instead of an obscure NaN-cast numpy error mid-query
                raise ValueError(
                    f"streaming_distinct_by_key: NULL in {token_col!r}; "
                    "filter NULLs or coalesce upstream")
            # (NULL rows raised above, so iloc[0] is a real cell)
            if isinstance(col.iloc[0], (list, np.ndarray)):
                arrs = [np.asarray(v, dtype=np.int64) for v in col]
                keys = np.concatenate(arrs).view(np.uint64)
            else:
                keys = col.to_numpy(dtype=np.int64).view(np.uint64)
            sk.add_many(keys)
        state.update((sk.to_bytes(),))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({"key": [key[0]], "estimate": [sk.estimate()],
                            "n_rows": [n]})

    out_schema = _out_schema(stream_df.schema[key_col].dataType)
    return (stream_df.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, _STATE_SCHEMA,
                                    "update", timeout))
