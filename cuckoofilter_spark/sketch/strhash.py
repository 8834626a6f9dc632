"""Spark column wrappers for the reference's byte-string hashes.

The reference's canonical string-item path is "SpookyHash the bytes,
then treat the 64-bit value as the item" (cuckoofilter.h:69 shows
exactly this with HashUtil::SpookyHash; hashutil.h:21-50 is the full
byte-string surface). ``keys_u64`` deliberately refuses non-integer
key columns and tells callers to keyify Spark-side — these UDFs are
that keyify step when bit-parity with the reference's hashes matters
(e.g. probing a filter blob built by the C++ library). When parity is
NOT needed, prefer ``F.xxhash64`` — it stays JVM-side with no Python
worker hop.

Each UDF is an Arrow-batched pandas UDF over the vectorized kernels in
``kernels/bytehash.py`` (golden-vector verified against the compiled
reference). Strings hash as their UTF-8 bytes; NULL hashes to NULL.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from ..kernels import bytehash
from .udaf import worker_prologue


def _wrap64(fn, seed: int):
    @F.pandas_udf(T.LongType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        worker_prologue()
        for s in it:
            mask = s.notna()
            sub = s[mask]  # Series goes straight to the Arrow-flat path
            out = np.zeros(len(s), dtype=np.int64)
            if len(sub):
                out[mask.to_numpy()] = fn(sub, seed).view(np.int64)
            # Nullable Int64, NOT `res[~mask] = None`: assigning None into an
            # int64 Series upcasts it to float64, which silently corrupts
            # 64-bit hash values (> 2^53) for every non-null row in the batch.
            yield pd.Series(pd.array(out, dtype="Int64")).mask(~mask)

    return udf


def _wrap32(fn, *args):
    @F.pandas_udf(T.LongType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        worker_prologue()
        for s in it:
            mask = s.notna()
            sub = s[mask]
            out = np.zeros(len(s), dtype=np.int64)
            if len(sub):
                out[mask.to_numpy()] = fn(sub, *args).astype(np.int64)
            # Nullable Int64 — see _wrap64 for why None-assignment is unsafe.
            yield pd.Series(pd.array(out, dtype="Int64")).mask(~mask)

    return udf


def spooky64_col(col, seed: int = 0) -> Column:
    """SpookyHash V2 Hash64 of a string/binary column (bit-exact vs
    HashUtil::SpookyHash, hashutil.cc:583-586). Returns the hash as
    int64 (the uint64 bit pattern — keys_u64 reinterprets)."""
    c = F.col(col) if isinstance(col, str) else col
    return _wrap64(bytehash.spooky_hash64, seed)(c)


def bob32_col(col, seed: int = 0) -> Column:
    """lookup3 hashlittle (HashUtil::BobHash) — nonneg int64 in [0,2^32)."""
    c = F.col(col) if isinstance(col, str) else col
    return _wrap32(bytehash.bob_hash32, seed)(c)


def murmur32_col(col, seed: int = 0) -> Column:
    """MurmurHash2 (HashUtil::MurmurHash) — nonneg int64 in [0,2^32)."""
    c = F.col(col) if isinstance(col, str) else col
    return _wrap32(bytehash.murmur2_32, seed)(c)

