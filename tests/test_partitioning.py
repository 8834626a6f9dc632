"""Partitioning/skew helpers: salted repartition + skew-safe group apply."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.plans.partitioning import (
    group_skew_stats, hash_partition_by_doc, partition_skew_stats,
    salted_group_apply, salted_repartition)
from cuckoofilter_spark.sources.tokens import tokens_table


@pytest.fixture(scope="module")
def toks(spark):
    return tokens_table(spark, 2000, seed=42).persist()


def test_source_skew_exists(toks):
    stats = {r["source"]: r["share"] for r in group_skew_stats(toks, "source").collect()}
    assert stats["web"] > 0.5  # the canonical corpus is web-heavy by design


def test_hash_partition_by_doc(spark, toks):
    df = hash_partition_by_doc(toks, 8)
    assert df.rdd.getNumPartitions() == 8
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan and "doc_id" in plan
    # deterministic partition membership: same repartition twice -> same counts
    a = sorted(r["rows"] for r in partition_skew_stats(df).collect())
    b = sorted(r["rows"] for r in partition_skew_stats(
        hash_partition_by_doc(toks, 8)).collect())
    assert a == b


def test_salted_repartition_balances_hot_source(spark, toks):
    web = toks.where("source = 'web'")
    # partitioning a single-valued key: everything lands in one partition
    unsalted = partition_skew_stats(web.repartition(8, F.col("source"))).collect()
    nonempty_unsalted = [r for r in unsalted if r["rows"] > 0]
    assert len(nonempty_unsalted) == 1
    # salted: spread across (almost) all partitions — with S salts hashed
    # into P partitions some collide (~1-1/e occupancy at S=P), so assert
    # the property that matters: no partition holds the hot group whole
    salted = partition_skew_stats(
        salted_repartition(web, "source", 8, salt=32, salt_key="doc_id")).collect()
    nonempty = [r for r in salted if r["rows"] > 0]
    total = sum(r["rows"] for r in salted)
    assert len(nonempty) >= 6
    assert max(r["rows"] for r in nonempty) < 0.45 * total


def test_salted_group_apply_matches_unsalted(spark, toks):
    """Per-source HLL via the skew-safe two-stage fold == direct fold."""
    from cuckoofilter_spark.kernels.hll import HyperLogLog
    from cuckoofilter_spark.sketch.udaf import keys_u64

    def make_partial(pdf: pd.DataFrame) -> bytes:
        h = HyperLogLog(p=12, seed=9)
        h.add_many(keys_u64(pa.Array.from_pandas(pdf["tokens"])))
        return h.to_bytes()

    def merge_partials(blobs):
        h = HyperLogLog.from_bytes(bytes(blobs[0]))
        for b in blobs[1:]:
            h = HyperLogLog.merge(h, HyperLogLog.from_bytes(bytes(b)))
        return pd.DataFrame({"source": [None], "estimate": [h.estimate()]})

    res = salted_group_apply(
        toks.select("source", "tokens"), "source",
        make_partial, merge_partials,
        partial_schema="source string", final_schema="source string, estimate double",
        salt=4, salt_key="source",  # worst case: salt on the group key itself
    )
    # salt on the group key is degenerate (1 sub-group); salt on doc_id splits
    res2 = salted_group_apply(
        toks.select("doc_id", "source", "tokens"), "source",
        lambda pdf: make_partial(pdf), merge_partials,
        partial_schema="source string", final_schema="source string, estimate double",
        salt=4, salt_key="doc_id",
    )
    got = {r["source"]: r["estimate"] for r in res2.collect()}

    # oracle: direct single-group fold per source
    for src in ("web", "code", "books", "wiki"):
        pdf = toks.where(F.col("source") == src).select("source", "tokens").toPandas()
        h = HyperLogLog(p=12, seed=9)
        h.add_many(keys_u64(pa.Array.from_pandas(pdf["tokens"])))
        assert got[src] == pytest.approx(h.estimate()), src

    # the degenerate salt still returns correct estimates (merge of 1)
    got1 = {r["source"]: r["estimate"] for r in res.collect()}
    assert got1 == got
