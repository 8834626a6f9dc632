"""Sketch-indexed scan pruning (plans/pruning.py).

The data-skipping analogue of the reference's Contain-before-lookup
pattern (cuckoofilter.h:163-205): per-file filters, no false
negatives, false positives cost IO only.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.plans.pruning import (file_sketch_index,
                                              prune_files, pruned_parquet)


@pytest.fixture(scope="module")
def keyed_table(spark, tmp_path_factory):
    """A multi-file parquet table with a known key->file layout:
    8 files, file i holding keys [i*1000, i*1000+500)."""
    path = str(tmp_path_factory.mktemp("prune") / "tbl")
    df = spark.range(8 * 500).select(
        ((F.col("id") % 8) * 1000 + (F.col("id") / 8).cast("long"))
        .alias("key"),
        (F.col("id") % 8).cast("int").alias("bucket"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"))
    df.repartition(8, "bucket").write.mode("overwrite").parquet(path)
    return path


def test_index_shape_and_full_coverage(spark, keyed_table):
    idx = file_sketch_index(spark, keyed_table, "key", seed=11)
    rows = idx.collect()
    n_files = spark.read.parquet(keyed_table).select(
        "_metadata.file_path").distinct().count()
    assert len(rows) == n_files >= 2  # genuinely multi-file
    assert sum(r.n_keys for r in rows) == 8 * 500  # distinct keys covered
    assert all(len(r.blob) > 0 for r in rows)


def test_no_false_negatives_and_pruning_bites(spark, keyed_table):
    idx = file_sketch_index(spark, keyed_table, "key", seed=11).cache()
    all_files = {r.file for r in idx.collect()}
    # exact key -> file map (ground truth via _metadata)
    truth = spark.read.parquet(keyed_table).select(
        F.col("_metadata.file_path").alias("file"), "key").collect()
    file_of = {r.key: r.file for r in truth}

    probe = [3001, 3002, 7499]  # keys in exactly two buckets' files
    must_keep = {file_of[k] for k in probe}
    kept = set(prune_files(spark, idx, probe))
    assert must_keep <= kept, "pruning lost a file containing a probe key"
    assert kept <= all_files
    # selectivity: with 12-bit filters and 3 probe keys, surviving
    # extra files are eps-rare — the prune must actually bite
    assert len(kept) < len(all_files)

    # the pruned read + exact predicate == the unpruned semi-join
    got = (pruned_parquet(spark, keyed_table, idx, probe)
           .where(F.col("key").isin(probe)).select("key", "payload"))
    want = (spark.read.parquet(keyed_table)
            .where(F.col("key").isin(probe)).select("key", "payload"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    idx.unpersist()


def test_absent_probe_prunes_everything(spark, keyed_table):
    idx = file_sketch_index(spark, keyed_table, "key", seed=11)
    # keys far outside every file's range: any survivor is a filter FP
    # (possible but eps-rare with 3 keys x 8 files); the read must
    # still return ZERO matching rows
    probe = [10**9 + 7, 10**9 + 8]
    out = pruned_parquet(spark, keyed_table, idx, probe)
    assert out.where(F.col("key").isin(probe)).count() == 0
    assert out.schema == spark.read.parquet(keyed_table).schema


def test_empty_probe_set(spark, keyed_table):
    idx = file_sketch_index(spark, keyed_table, "key", seed=11)
    assert prune_files(spark, idx, []) == []
    out = pruned_parquet(spark, keyed_table, idx, np.array([], dtype=np.int64))
    assert out.count() == 0
    assert out.schema == spark.read.parquet(keyed_table).schema


def test_dataframe_probe_and_null_keys(spark, keyed_table):
    idx = file_sketch_index(spark, keyed_table, "key", seed=11)
    probe_df = spark.createDataFrame(
        [(3001,), (None,), (3001,)], "k bigint")
    kept = prune_files(spark, idx, probe_df, col="k")
    assert kept  # the non-NULL key keeps its file
    with pytest.raises(ValueError):
        prune_files(spark, idx, probe_df)  # DataFrame probe needs col=


def test_string_key_column_refused_eagerly(spark, keyed_table):
    with pytest.raises(TypeError, match="xxhash64"):
        file_sketch_index(spark, keyed_table, "payload")


def test_incremental_index_update(spark, tmp_path):
    from cuckoofilter_spark.plans.pruning import update_file_sketch_index

    path = str(tmp_path / "grow")
    spark.range(100).select(F.col("id").alias("key"),
                            F.lit("a").alias("src")) \
        .coalesce(1).write.mode("overwrite").parquet(path)
    idx0 = file_sketch_index(spark, path, "key", seed=5)
    rows0 = {r.file: (r.n_keys, bytes(r.blob)) for r in idx0.collect()}

    # append a file with a disjoint key range
    spark.range(1000, 1100).select(F.col("id").alias("key"),
                                   F.lit("b").alias("src")) \
        .coalesce(1).write.mode("append").parquet(path)
    idx1 = update_file_sketch_index(spark, path, "key",
                                    spark.createDataFrame(
                                        [(f, n, b) for f, (n, b) in rows0.items()],
                                        "file string, n_keys long, blob binary"),
                                    seed=5)
    rows1 = {r.file: (r.n_keys, bytes(r.blob)) for r in idx1.collect()}
    assert set(rows0) < set(rows1) and len(rows1) == len(rows0) + 1
    for f, v in rows0.items():  # existing blobs reused bit-identically
        assert rows1[f] == v
    # the appended keys are findable through the updated index
    kept = prune_files(spark, idx1, [1050])
    new_file = next(iter(set(rows1) - set(rows0)))
    assert new_file in kept
    assert (pruned_parquet(spark, path, idx1, [1050])
            .where("key = 1050").count() == 1)

    # a vanished file drops out of the maintained index
    import os
    victim = next(iter(rows0))
    os.remove(victim.removeprefix("file://").removeprefix("file:"))
    # a persisted index survives its source files; a lazy one would
    # re-run the build lineage over the vanished file
    idx1_stored = spark.createDataFrame(
        [(f, n, b) for f, (n, b) in rows1.items()],
        "file string, n_keys long, blob binary")
    idx2 = update_file_sketch_index(spark, path, "key", idx1_stored, seed=5)
    assert victim not in {r.file for r in idx2.collect()}


def test_duplicate_index_rows_never_double_read(spark, keyed_table):
    """A user union of two index builds can duplicate a file's row;
    prune_files must still return each file once, or pruned_parquet
    would read it twice and duplicate rows (breaking pruned + exact
    join == unpruned semi-join)."""
    idx = file_sketch_index(spark, keyed_table, "key", seed=11)
    doubled = idx.unionByName(idx)
    probe = [0, 1000, 7005]
    files = prune_files(spark, doubled, probe)
    assert len(files) == len(set(files))
    pruned = pruned_parquet(spark, keyed_table, doubled, probe)
    exact = pruned.where(F.col("key").isin(probe))
    assert exact.count() == 3  # one row per existing probe key, no dupes


def test_null_array_elements_not_indexed(spark, tmp_path):
    """A NULL element of an array key column is not a key: the file
    holding ``[1, NULL, 3]`` indexes two keys, and a probe for the
    INT64_MIN a NULL would decode to prunes it."""
    path = str(tmp_path / "arr")
    spark.createDataFrame([([1, None, 3],)], "key array<bigint>") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    idx = file_sketch_index(spark, path, "key", seed=5)
    (row,) = idx.collect()
    assert row.n_keys == 2
    assert prune_files(spark, idx, [1]) == [row.file]
    assert prune_files(spark, idx, [np.iinfo(np.int64).min]) == []
