"""Plan-shape pin for the sketch builders: the number of Spark jobs and
tasks each builder call runs, counted under its own job group.

A refactor of the build engine must run the same jobs. With the input
at 4 partitions, ``build_filter`` (cuckoo, capacity given) runs 2 jobs:
the packed-key partials with their shuffle, then the per-shard build.
An aggregate with no tree level runs 1 job of 4 tasks.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.sketch import aggregates as agg, membership as mem
from cuckoofilter_spark.sketch.api import build_filter, filter_families

_GROUP = itertools.count()


def _jobs_tasks(spark, call) -> tuple[int, int]:
    sc = spark.sparkContext
    group = f"cfs-build-jobs-{next(_GROUP)}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = sum(st.getStageInfo(s).numTasks
                for j in jobs for s in st.getJobInfo(j).stageIds
                if st.getStageInfo(s) is not None)
    return len(jobs), tasks


@pytest.fixture(scope="module")
def table(spark):
    i = F.col("id")
    k = (i * 2654435761) % 20011
    return spark.range(0, 4000, numPartitions=4).select(
        k.alias("k"), F.array(k, i % 97).alias("tokens"),
        (i % 50).alias("n_tok"), (i % 5).alias("g"))


# name -> (call(df), (jobs, tasks)), recorded before the build engine
# was unified. An omitted capacity adds the approx_count_distinct
# pre-pass (2 jobs); a 40-partition input adds the tree level's shuffle.
CALLS = {
    "build_filter": (lambda d: build_filter(d, "tokens", kind="cuckoo",
                                            capacity=10000, seed=7), (2, 9)),
    "build_filter_sized": (lambda d: build_filter(d, "tokens", seed=7),
                           (4, 18)),
    "hll_sketch": (lambda d: agg.hll_sketch(d, "tokens", seed=7), (1, 4)),
    "cms_sketch": (lambda d: agg.cms_sketch(d, "tokens", seed=7), (1, 4)),
    "kll_sketch": (lambda d: agg.kll_sketch(d, "n_tok", seed=7), (1, 4)),
    "mg_sketch": (lambda d: agg.mg_sketch(d, "tokens", k=32), (1, 4)),
    "bloom_sketch": (lambda d: agg.bloom_sketch(d, "k", capacity=5000),
                     (1, 4)),
    "hll_tree": (lambda d: agg.hll_sketch(d.repartition(40), "k"), (4, 97)),
    "grouped_hll": (lambda d: agg.grouped_hll_sketch(d, "g", "k").collect(),
                    (2, 9)),
    "grouped_kll": (lambda d: agg.grouped_kll_quantiles(d, "g", "n_tok")
                    .collect(), (2, 9)),
    "grouped_mg": (lambda d: agg.grouped_mg_topk(d, "g", "tokens", k=16)
                   .collect(), (2, 9)),
    "cuckoo_jvm": (lambda d: mem.cuckoo_jvm_build(d, "k", capacity=5000),
                   (2, 9)),
    "shingle": (lambda d: mem.shingle_build(d, "k", capacity=5000), (2, 9)),
    "tail": (lambda d: mem.tail_build(d, "k"), (2, 9)),
    "crate": (lambda d: mem.crate_build(d, "k"), (4, 18)),
    "xor_sharded": (lambda d: mem.xor_build_sharded(d, "k", num_shards=8),
                    (2, 9)),
    "distinct_keys": (lambda d: mem.distinct_keys_u64(d, "tokens"), (2, 9)),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_builder_jobs_and_tasks(spark, table, name):
    call, want = CALLS[name]
    assert _jobs_tasks(spark, lambda: call(table)) == want


# build_filter with capacity omitted, for every kind: each family's own
# sizing rule (a pre-pass, none, or gcs's distinct count) and its build.
FACADE = {
    "blocked_bloom": (3, 13),
    "blocked_bloom64": (3, 13),
    "blocked_bloom_jvm": (3, 13),
    "bloom": (3, 13),
    "crate": (4, 18),
    "cuckoo": (4, 18),
    "cuckoo_jvm": (4, 18),
    "cuckoo_semisort": (4, 18),
    "cuckoo_stable": (4, 18),
    "fixed_blocked_bloom": (3, 13),
    "gcs": (6, 30),
    "grow_bloom": (2, 9),
    "shingle": (4, 18),
    "tail": (2, 9),
    "xor": (2, 9),
    "xor_sharded": (2, 9),
    "xorplus": (2, 9),
}


@pytest.mark.parametrize("kind", filter_families())
def test_build_filter_jobs_and_tasks(spark, table, kind):
    got = _jobs_tasks(spark, lambda: build_filter(table, "k", kind=kind,
                                                  seed=7))
    assert got == FACADE[kind]
