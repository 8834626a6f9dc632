"""Deterministic synthetic pre-tokenized sequence table (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Every cell is a pure function of (seed, doc index, position) built on
splitmix64 (the reference harness's own deterministic generator,
benchmarks/random.h:28-41), so two engines / two runs produce
token-array-equal rows (the per-row invariant vs the reference input).

Generated distributively: ``spark.range(n)`` partitions the id space,
``mapInPandas`` synthesizes each Arrow batch vectorized — no driver
materialization, scales to any N.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels.hashing import U64, splitmix64
from ..sketch.udaf import worker_prologue

TOKENS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_SOURCES = np.array(["web", "code", "books", "wiki"])
_CUM_WEIGHTS = np.array([0.79, 0.91, 0.97, 1.0])  # skewed — salting test target
_DOC_SALT = U64(0xD0C5EED000000001)
_LEN_SALT = U64(0xA11E57A7E0000002)
_SRC_SALT = U64(0x50FCE0000000003F)


def _u01(h: np.ndarray) -> np.ndarray:
    return (h >> U64(11)).astype(np.float64) * (2.0 ** -53)


def doc_lengths(idx: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic lognormal-ish n_tok: clip(exp(N(5.5, 0.8)), 1, 8192)."""
    i = idx.astype(np.uint64)
    s = U64(seed & 0xFFFFFFFFFFFFFFFF)
    u1 = _u01(splitmix64(i * U64(2) + U64(1) + s + _LEN_SALT))
    u2 = _u01(splitmix64(i * U64(2) + U64(2) + s + _LEN_SALT))
    z = np.sqrt(-2.0 * np.log(np.maximum(u1, 1e-300))) * np.cos(2.0 * np.pi * u2)
    return np.clip(np.exp(5.5 + 0.8 * z), 1, 8192).astype(np.int32)


def doc_sources(idx: np.ndarray, seed: int) -> np.ndarray:
    u = _u01(splitmix64(idx.astype(np.uint64) + U64(seed) + _SRC_SALT))
    return _SOURCES[np.searchsorted(_CUM_WEIGHTS, u, side="right").clip(0, 3)]


def doc_tokens_flat(idx: np.ndarray, lengths: np.ndarray, seed: int,
                    vocab_size: int) -> tuple[np.ndarray, np.ndarray]:
    """All tokens of a doc batch, flat, plus array offsets.

    token[i, pos] = splitmix64(splitmix64(seed + i + DOC_SALT) + pos) % vocab
    """
    total = int(lengths.sum())
    doc_base = splitmix64(idx.astype(np.uint64) + U64(seed) + _DOC_SALT)
    base_rep = np.repeat(doc_base, lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    pos = np.arange(total, dtype=np.uint64) - np.repeat(starts, lengths).astype(np.uint64)
    flat = (splitmix64(base_rep + pos) % U64(vocab_size)).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    return flat, offsets


def tokens_batch(idx: np.ndarray, seed: int, vocab_size: int) -> pd.DataFrame:
    lengths = doc_lengths(idx, seed)
    flat, offsets = doc_tokens_flat(idx, lengths, seed, vocab_size)
    toks = [flat[offsets[j]:offsets[j + 1]] for j in range(idx.size)]
    return pd.DataFrame({
        "doc_id": [f"doc{int(i):012d}" for i in idx],
        "tokens": toks,
        "n_tok": lengths,
        "source": doc_sources(idx, seed),
    })


def tokens_table(spark: SparkSession, num_docs: int, seed: int = 42,
                 vocab_size: int = 50_000, partitions: int | None = None) -> DataFrame:
    """The canonical input table, synthesized distributively."""
    rng = spark.range(0, num_docs, numPartitions=partitions) if partitions else spark.range(num_docs)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prologue()
        for pdf in batches:
            yield tokens_batch(pdf["id"].to_numpy(), seed, vocab_size)

    return rng.mapInPandas(gen, schema=TOKENS_SCHEMA)
