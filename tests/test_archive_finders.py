"""Per-task import-cache cost: library worker functions drop Spark's own
zip-archive finders (``udaf.drop_archive_finders``), so pyspark's
per-task ``importlib.invalidate_caches()`` stops re-reading
``pyspark.zip`` and the spark-core jar on every task."""

import json
import sys
import zipfile
import zipimport

import numpy as np
import pytest
from pyspark import SparkFiles

from cuckoofilter_spark.sketch.udaf import drop_archive_finders

_MODS = ("_cfs_zipmod_a", "_cfs_zipmod_b", "_cfs_zipmod_c")


@pytest.fixture
def zipmods(tmp_path, monkeypatch):
    """Two zips of one-line modules: ``plain.zip`` (outside any SparkFiles
    root) and ``root/shipped.zip`` (under ``tmp_path/root``)."""
    root = tmp_path / "root"
    root.mkdir()
    plain, shipped = tmp_path / "plain.zip", root / "shipped.zip"
    with zipfile.ZipFile(plain, "w") as z:
        z.writestr("_cfs_zipmod_a.py", "VALUE = 'a'\n")
        z.writestr("_cfs_zipmod_b.py", "VALUE = 'b'\n")
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("_cfs_zipmod_c.py", "VALUE = 'c'\n")
    monkeypatch.syspath_prepend(str(plain))
    monkeypatch.syspath_prepend(str(shipped))
    yield str(plain), str(shipped), str(root)
    for m in _MODS:
        sys.modules.pop(m, None)
    for p in (str(plain), str(shipped)):
        sys.path_importer_cache.pop(p, None)


def test_drop_archive_finders_without_root(zipmods, monkeypatch):
    plain, _, _ = zipmods
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    import _cfs_zipmod_a

    assert _cfs_zipmod_a.VALUE == "a"
    assert isinstance(sys.path_importer_cache[plain], zipimport.zipimporter)
    drop_archive_finders()
    assert plain not in sys.path_importer_cache
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    import _cfs_zipmod_b  # the finder is re-created on the next import

    assert _cfs_zipmod_b.VALUE == "b"
    assert isinstance(sys.path_importer_cache[plain], zipimport.zipimporter)


def test_drop_archive_finders_keeps_sparkfiles_archives(zipmods, monkeypatch):
    plain, shipped, root = zipmods
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", root)
    import _cfs_zipmod_a
    import _cfs_zipmod_c

    assert (_cfs_zipmod_a.VALUE, _cfs_zipmod_c.VALUE) == ("a", "c")
    drop_archive_finders()
    assert plain not in sys.path_importer_cache
    assert isinstance(sys.path_importer_cache[shipped], zipimport.zipimporter)


def test_worker_functions_run_without_spark_archive_finders(spark):
    """Inside a task, after the library's worker function has started,
    no finder over a Spark archive (pyspark.zip, py4j, spark-core jar)
    is left for the next task's cache invalidation to re-read.

    The ``Records`` kernel's ``add_many`` records the finders it sees,
    then re-creates the top-level ones (a lookup of a missing module
    scans ``sys.path``), so every later call on the same worker sees
    them unless the library function dropped them first. A fresh worker may record them once:
    its first batch imports ``concurrent`` after the drop."""
    from cuckoofilter_spark.sketch.membership import _sharded_build_blobs
    from cuckoofilter_spark.sketch.udaf import aggregate_sketch

    def record():
        import importlib.util
        import os
        import sys
        import zipimport

        from pyspark import SparkFiles

        root = SparkFiles._root_directory or "\0"
        archives = sorted({f.archive for f in list(sys.path_importer_cache.values())
                           if isinstance(f, zipimport.zipimporter)
                           and not f.archive.startswith(root)})
        assert importlib.util.find_spec("_cfs_absent_module") is None
        return [[os.getpid(), archives]]

    class Records:
        """(pid, Spark archives with a finder) per ``add_many`` call."""

        def __init__(self, recs=()):
            self.recs = list(recs)

        def add_many(self, keys):
            self.recs += record()

        def to_bytes(self):
            return json.dumps(self.recs).encode()

        @staticmethod
        def from_bytes(b):
            return Records(json.loads(b))

        @staticmethod
        def merge(a, b):
            return Records(a.recs + b.recs)

    def shard(keys):
        kern = Records()
        kern.add_many(keys)
        return kern.to_bytes()

    df = spark.range(0, 4000, numPartitions=8).withColumnRenamed("id", "k")
    stages = []
    for _ in range(3):
        stages.append(aggregate_sketch(df, "k", Records, fanout=2).recs)
        blobs = _sharded_build_blobs(df, "k", 16, shard)
        stages.append([r for b in blobs for r in json.loads(b)])

    earlier, dirty = set(), []
    for recs in stages:
        for pid, archives in recs:
            if archives:
                assert pid not in earlier, (pid, archives)
                dirty.append(pid)
        earlier |= {pid for pid, _ in recs}
    assert len(dirty) == len(set(dirty)), dirty  # at most a worker's first call
    calls = sum(len(recs) for recs in stages)
    assert calls == 3 * (8 + 16) and calls - len(earlier) >= 24
