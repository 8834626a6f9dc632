"""Session defaults follow the host they run on (no session started),
the Parquet reader batch is the session's own and never shows in a
blob, and a session's auto-written filter stores do not outlive its
process."""
import os
import subprocess
import sys

import pytest

from cuckoofilter_spark import session

READER_BATCH = "spark.sql.parquet.columnarReaderBatchSize"


@pytest.mark.parametrize("cpus,phys_gb,mem", [
    (4, 15, "7680m"),      # half of physical memory
    (64, 256, "32768m"),   # capped at 32g
])
def test_defaults_follow_the_host(monkeypatch, cpus, phys_gb, mem):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (phys_gb << 30) // 4096}
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert session.default_cores() == cpus
    assert session.default_driver_mem() == mem
    # the environment overrides still win
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.default_cores() == 8
    assert session.default_driver_mem() == "2g"


def test_reader_batch_is_pinned(spark):
    """``get_spark`` sets the Parquet reader batch; ``extra_conf`` wins
    over it, and ``getOrCreate`` on the running session keeps it."""
    from pyspark.sql import SparkSession

    want = str(session.PARQUET_READER_BATCH_ROWS)
    assert spark.conf.get(READER_BATCH) == want
    assert SparkSession.builder.getOrCreate().conf.get(READER_BATCH) == want
    try:
        got = session.get_spark("tests", cores=8, shuffle_partitions=8,
                                extra_conf={READER_BATCH: 1024})
        assert got is spark and spark.conf.get(READER_BATCH) == "1024"
    finally:
        spark.conf.set(READER_BATCH, want)


def test_blobs_do_not_depend_on_reader_batch(spark, tmp_path):
    """Parquet read in 4096-row batches (Spark's default) or in
    ``PARQUET_READER_BATCH_ROWS``-row ones gives byte-equal blobs; KLL
    and t-digest depend on order, so the rows also arrive in the same
    order. 9001 rows in two files: no file is a whole number of
    batches at either size."""
    from cuckoofilter_spark.sketch import aggregates as agg
    from cuckoofilter_spark.sketch.api import build_filter
    from cuckoofilter_spark.sources.tokens import tokens_table

    path = str(tmp_path / "tokens")
    tokens_table(spark, 9001, seed=13, partitions=2).write.parquet(path)
    df = spark.read.parquet(path)

    def blobs():
        filt = build_filter(df, "tokens", capacity=60_000, seed=7)
        return {
            "hll": agg.hll_sketch(df, "tokens", seed=7).to_bytes(),
            "cms": agg.cms_sketch(df, "tokens", seed=7).to_bytes(),
            "cuckoo": b"".join(filt.blobs),
            "kll": agg.kll_sketch(df, "n_tok", seed=7).to_bytes(),
            "tdigest": agg.tdigest_sketch(df, "n_tok").to_bytes(),
        }

    old = spark.conf.get(READER_BATCH)
    try:
        spark.conf.set(READER_BATCH, "4096")
        wide = blobs()
        spark.conf.set(READER_BATCH, str(session.PARQUET_READER_BATCH_ROWS))
        short = blobs()
    finally:
        spark.conf.set(READER_BATCH, old)
    assert sorted(k for k in wide if wide[k] != short[k]) == []


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_auto_stores_removed_at_exit(tmp_path):
    """``contains_sharded``'s local-mode stores (one per filter content,
    so a second after ``delete_u64``) are gone once the process exits."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = tmp_path / "drive.py"
    script.write_text(f"""
import sys
sys.path.insert(0, {ROOT!r})
import numpy as np
from cuckoofilter_spark.session import get_spark
from cuckoofilter_spark.sketch.api import build_filter, contains_sharded

spark = get_spark("auto-stores", cores=2, shuffle_partitions=2)
keys = spark.range(0, 2000).withColumnRenamed("id", "k")
filt = build_filter(keys, "k", capacity=4000, num_shards=4)
assert contains_sharded(keys, "k", filt).where("member").count() == 2000
print(filt._auto_store.path)
filt.delete_u64(np.arange(10, dtype=np.uint64))
assert contains_sharded(keys, "k", filt).where("member").count() >= 1990
print(filt._auto_store.path)
spark.stop()
""", encoding="utf-8")
    env = dict(os.environ, TMPDIR=str(tmp))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    p = subprocess.run([sys.executable, str(script)], capture_output=True,
                       text=True, timeout=420, env=env, cwd=str(tmp_path))
    assert p.returncode == 0, p.stderr[-2000:]
    stores = p.stdout.split()[-2:]
    assert len(set(stores)) == 2  # the delete wrote a second store
    assert all(s.startswith(str(tmp)) for s in stores)
    assert not list(tmp.glob("cfspark_store_*"))
