"""Partitioning/skew helpers: salted repartition and skew stats."""

import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.plans.partitioning import (
    group_skew_stats, hash_partition_by_doc, partition_skew_stats,
    salted_repartition)
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


