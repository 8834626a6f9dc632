"""Fixed per-task costs of a reused Python worker, taken off by
``udaf.worker_prologue``: it drops Spark's own zip-archive finders, so
pyspark's per-task ``importlib.invalidate_caches()`` stops re-reading
``pyspark.zip`` and the spark-core jar on every task, and it freezes the
worker's import-time heap, so the daemon's after-task ``gc.collect()``
walks only what the task made."""

import gc
import importlib
import json
import sys
import zipfile
import zipimport

import numpy as np
import pytest
from pyspark import SparkFiles

from cuckoofilter_spark.sketch import udaf
from cuckoofilter_spark.sketch.udaf import worker_prologue

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


@pytest.fixture
def unfrozen(monkeypatch):
    """A process whose heap the prologue has never frozen; any freeze is
    undone afterwards."""
    monkeypatch.setattr(udaf, "_frozen_modules", 0)
    assert gc.get_freeze_count() == 0
    yield
    gc.unfreeze()


def test_drop_archive_finders_without_root(zipmods, monkeypatch):
    plain, _, _ = zipmods
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    import _cfs_zipmod_a

    assert _cfs_zipmod_a.VALUE == "a"
    assert isinstance(sys.path_importer_cache[plain], zipimport.zipimporter)
    worker_prologue()
    assert plain not in sys.path_importer_cache
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    import _cfs_zipmod_b  # the finder is re-created on the next import

    assert _cfs_zipmod_b.VALUE == "b"
    assert isinstance(sys.path_importer_cache[plain], zipimport.zipimporter)


def test_drop_archive_finders_keeps_sparkfiles_archives(zipmods, unfrozen,
                                                      monkeypatch):
    plain, shipped, root = zipmods
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", root)
    import _cfs_zipmod_a
    import _cfs_zipmod_c

    assert (_cfs_zipmod_a.VALUE, _cfs_zipmod_c.VALUE) == ("a", "c")
    worker_prologue()
    assert plain not in sys.path_importer_cache
    assert isinstance(sys.path_importer_cache[shipped], zipimport.zipimporter)


def _task_records(spark, record):
    """Three rounds of a tree build over 8 partitions and a by-key build
    over 16 shards, with a ``Records`` kernel whose ``add_many`` appends
    ``record()`` as run in the task. Returns each of the six stages'
    records."""
    from cuckoofilter_spark.sketch.membership import _sharded_build_blobs
    from cuckoofilter_spark.sketch.udaf import aggregate_sketch

    class Records:
        """``record()`` per ``add_many`` call."""

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
    return stages


def test_worker_functions_run_without_spark_archive_finders(spark):
    """Inside a task, after the library's worker function has started,
    no finder over a Spark archive (pyspark.zip, py4j, spark-core jar)
    is left for the next task's cache invalidation to re-read.

    The ``Records`` kernel's ``add_many`` records the finders it sees,
    then re-creates the top-level ones (a lookup of a missing module
    scans ``sys.path``), so every later call on the same worker sees
    them unless the library function dropped them first. A fresh worker may record them once:
    its first batch imports ``concurrent`` after the drop."""

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

    stages = _task_records(spark, record)

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


def test_prologue_never_freezes_the_driver(unfrozen, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    worker_prologue()
    worker_prologue()
    assert gc.get_freeze_count() == 0


def test_prologue_freezes_a_worker_again_only_after_an_import(
        unfrozen, monkeypatch, tmp_path):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(tmp_path))
    worker_prologue()
    first = gc.get_freeze_count()
    assert first > 1000  # the pytest process's import-time heap
    assert len(gc.get_objects()) < first // 10
    made = [[i] for i in range(1000)]  # alive at the next call
    worker_prologue()
    assert gc.get_freeze_count() == first and len(made) == 1000

    (tmp_path / "_cfs_new_module.py").write_text("VALUE = {'a': [1]}\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.delitem(sys.modules, "_cfs_new_module", raising=False)
    importlib.import_module("_cfs_new_module")
    worker_prologue()
    assert gc.get_freeze_count() > first


def test_worker_heap_is_frozen_once_imports_settle(spark):
    """Each task records ``(pid, frozen, unfrozen)`` GC-tracked objects
    after the library's worker function has started, over three rounds
    of tree and by-key builds. A worker's heap is frozen from its first
    call on. Only that call may see many unfrozen objects: its first
    batch imports a few modules after the freeze, and the next call
    freezes them. Every other call sees the few objects a task makes,
    which is all the daemon's after-task collection walks, and the
    last round adds nothing to any worker's frozen heap. The driver is
    never frozen."""

    def record():
        import gc
        import os

        return [[os.getpid(), gc.get_freeze_count(), len(gc.get_objects())]]

    stages = _task_records(spark, record)
    rounds = [tree + by_key for tree, by_key in zip(stages[::2], stages[1::2])]

    assert [len(recs) for recs in rounds] == [8 + 16] * 3
    earlier, busy = set(), []
    for recs in rounds:
        for pid, frozen, unfrozen in recs:
            assert frozen > 10_000, (pid, frozen)
            if unfrozen >= 5_000:  # a first call imports more after the freeze
                assert pid not in earlier, (pid, unfrozen)
                busy.append(pid)
        earlier |= {pid for pid, _, _ in recs}
    assert len(busy) == len(set(busy)), busy  # at most a worker's first call
    before, after = ({pid: frozen for pid, frozen, _ in recs} for recs in rounds[1:])
    grew = {pid: (before[pid], after[pid]) for pid in before.keys() & after.keys()
            if after[pid] > before[pid]}
    assert not grew, grew
    assert gc.get_freeze_count() == 0
