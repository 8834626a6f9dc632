"""Partitioning and skew control (north-rule: explicit hash-partitioning
on doc_id, salted repartitioning for skewed sources).

The reference is single-process and has no distribution story (SURVEY
§3.4); these helpers encode the Spark-side discipline its capabilities
need at 10^12 rows:

- ``hash_partition_by_doc``: pin the partitioning of the token table to
  ``hash(doc_id) % N`` so downstream per-partition sketch partials are
  deterministic in membership (stable lineage for checkpoint/resume)
  and co-partitioned across pipeline stages (no re-shuffle between a
  build and a second sketch over the same table).
- ``salted_repartition``: the canonical token corpus is source-skewed
  (~79% "web", sources/tokens.py); any groupBy(source)-shaped stage
  (per-source sketches, per-source applyInPandas) would put 79% of all
  rows in one task. Salting appends a deterministic per-row salt in
  [0, S) to the partitioning key, splitting each hot group S ways.
  Grouped sketch builds need no second stage for this: their partials
  are per-task blobs (``udaf.grouped_aggregate_sketch``), so a hot
  group costs one small blob per task, not one task's worth of rows.
- ``partition_skew_stats``: observability — rows per partition /
  per-group, to decide when salting is warranted.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..sketch.udaf import worker_prologue


def hash_partition_by_doc(df: DataFrame, num_partitions: int,
                          col: str = "doc_id") -> DataFrame:
    """Explicit hash partitioning on the document key (north rule).

    ``repartition(N, col)`` is Catalyst's hash partitioning — the plan
    shows ``Exchange hashpartitioning(doc_id, N)`` and downstream
    stages reuse it instead of inserting their own exchanges.
    """
    return df.repartition(num_partitions, F.col(col))


def salt_col(col: str, salt: int, seed: int = 0x5EED) -> F.Column:
    """Deterministic per-row salt in [0, salt): xxhash64 of the row's
    key column mixed with a seed — reproducible across retries (unlike
    F.rand, whose draw depends on task replay), which checkpoint/resume
    requires."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(salt)).cast("int")


def salted_repartition(df: DataFrame, key: str, num_partitions: int,
                       salt: int = 8, salt_key: str | None = None,
                       seed: int = 0x5EED) -> DataFrame:
    """Repartition by (key, salt) so hot key groups split ``salt`` ways.

    ``salt_key`` is the column fed to the salt hash (default: the first
    column that uniquely identifies rows would be ideal; we default to
    the partition key itself only when nothing better exists — pass
    ``doc_id`` for the token table so rows of one source spread evenly).
    """
    sk = salt_key or key
    return df.repartition(num_partitions, F.col(key), salt_col(sk, salt, seed))


def partition_skew_stats(df: DataFrame) -> DataFrame:
    """Rows per physical partition — the before/after salting check."""
    def count_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prologue()
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        n = sum(len(p) for p in batches)
        yield pd.DataFrame({"partition": [pid], "rows": [n]})

    return df.mapInPandas(count_part, schema="partition int, rows long")


def group_skew_stats(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Largest groups by row count with their share of the table."""
    total = df.count()
    return (df.groupBy(key).agg(F.count("*").alias("rows"))
            .withColumn("share", F.round(F.col("rows") / F.lit(total), 4))
            .orderBy(F.desc("rows")).limit(top))
