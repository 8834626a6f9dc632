"""Tests of the benchmark's own helpers. No Spark session is started:
the checks run against sketches built with the library's kernels.

    python3 -m pytest perfbench -q
"""

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from checks import (CF_BITS, SKETCH_SEED, VOCAB, Checks, Reference,
                    check_cms, check_filter, check_hll, check_kll,
                    negative_keys)
from cuckoofilter_spark.kernels.cms import CountMinSketch
from cuckoofilter_spark.kernels.cuckoo import CuckooFilter
from cuckoofilter_spark.kernels.hll import HyperLogLog
from cuckoofilter_spark.kernels.kll import KLLSketch
from cuckoofilter_spark.sketch.membership import ShardedCuckooFilter
from cuckoofilter_spark.sources.tokens import tokens_batch
from measure import (RssSampler, end_processes, tail_percentile,
                     tree_cpu_s, tree_procs)
from tracing import attribute_event_log
from workloads import _stream_params, input_seeds


# -- tail percentile ------------------------------------------------------

def test_tail_needs_ten_samples_beyond_it():
    assert tail_percentile(range(1, 11)) is None  # 10 samples: none beyond p50
    assert tail_percentile(range(1, 21)) == (50.0, 10.0, 20)
    assert tail_percentile(range(1, 101)) == (90.0, 90.0, 100)
    assert tail_percentile(range(1, 1001)) == (99.0, 990.0, 1000)


def test_tail_ignores_sample_order():
    xs = np.random.default_rng(0).permutation(np.arange(1.0, 201.0))
    assert tail_percentile(xs) == (95.0, 190.0, 200)


# -- peak RSS ---------------------------------------------------------------

def test_rss_counts_a_process_from_its_second_sample():
    s = RssSampler()
    s.sample()
    assert s.peak == 0
    s.sample()
    assert s.peak > 0 and len(s.peak_parts) == 1
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(60)"])
    try:
        s.sample()  # first sight of the child: not counted
        assert len(s.peak_parts) == 1
        s.sample()
        assert len(s.peak_parts) == 2
    finally:
        child.kill()
        child.wait(timeout=10)


def test_end_processes_kills_what_ignores_sigterm():
    polite = subprocess.Popen([sys.executable, "-c",
                               "import time; time.sleep(60)"])
    stubborn = subprocess.Popen([sys.executable, "-c",
                                 "import signal, sys, time\n"
                                 "signal.signal(signal.SIGTERM, signal.SIG_IGN)\n"
                                 "print(flush=True)\n"
                                 "time.sleep(60)"], stdout=subprocess.PIPE)
    try:
        stubborn.stdout.readline()  # SIGTERM is ignored from here on
        procs = {p: s for p, s in tree_procs(os.getpid()).items()
                 if p in (polite.pid, stubborn.pid)}
        assert len(procs) == 2
        assert end_processes(procs, grace_s=0.5) == [stubborn.pid]
        assert not set(tree_procs(os.getpid())) & set(procs)
    finally:
        for child in (polite, stubborn):
            child.kill()
            child.wait(timeout=10)


def test_tree_cpu_keeps_a_reaped_child():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "x = 0\nfor i in range(3_000_000): x += i"], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.05


# -- checks ----------------------------------------------------------------

def _inputs(seed: int, docs: int = 300):
    """Token keys and exact reference of ``docs`` generated documents."""
    idx = np.arange(docs)
    pdf = tokens_batch(idx, input_seeds(seed)["tokens"], VOCAB)
    flat = np.concatenate(pdf["tokens"].to_list()).astype(np.int64)
    ref = Reference(np.bincount(flat, minlength=VOCAB),
                    np.sort(pdf["n_tok"].to_numpy()), 0)
    return flat.view(np.uint64), pdf["n_tok"].to_numpy(np.float64), ref


def _filter(keys: np.ndarray) -> ShardedCuckooFilter:
    f = CuckooFilter.create(VOCAB, bits=CF_BITS, seed=SKETCH_SEED)
    f.add_many(np.unique(keys))
    return ShardedCuckooFilter([f.to_bytes()], bits=CF_BITS, seed=SKETCH_SEED)


def _run_checks(seed: int) -> Checks:
    keys, n_tok, ref = _inputs(seed)
    c = Checks()
    check_filter(c, _filter(keys), ref, negative_keys(seed, 1 << 14))
    hll = HyperLogLog(**_stream_params("hll"))
    hll.add_many(keys)
    check_hll(c, hll, ref)
    cms = CountMinSketch.create(**_stream_params("cms"))
    cms.add_many(keys)
    check_cms(c, cms, ref)
    kll = KLLSketch(**_stream_params("kll"))
    kll.add_many(n_tok)
    check_kll(c, kll, ref.n_tok_sorted)
    return c


def test_seed_changes_inputs_not_checks():
    docs = [{tuple(t) for t in tokens_batch(
        np.arange(300), input_seeds(seed)["tokens"], VOCAB)["tokens"]}
        for seed in (1, 2)]
    assert not docs[0] & docs[1]  # no document in common
    assert input_seeds(1) == input_seeds(1)
    ca, cb = _run_checks(1), _run_checks(2)
    assert ca.attempted == cb.attempted > 0
    assert ca.failed == cb.failed == 0, ca.failures + cb.failures


def test_filter_with_cleared_bucket_is_a_failure():
    keys, _n_tok, ref = _inputs(1)
    good = _filter(keys)
    c = Checks()
    check_filter(c, good, ref, negative_keys(1, 1 << 14))
    assert c.failed == 0

    f = CuckooFilter.from_bytes(good.blobs[0])
    bucket = int(np.flatnonzero((f.table != 0).any(axis=1))[0])
    f.num_items -= int((f.table[bucket] != 0).sum())
    f.table[bucket] = 0
    bad = ShardedCuckooFilter([f.to_bytes()], bits=CF_BITS, seed=SKETCH_SEED)
    c = Checks()
    check_filter(c, bad, ref, negative_keys(1, 1 << 14))
    assert c.failed == 1
    assert c.failures[0].startswith("cf.false_negatives")


def test_undercounting_cms_is_a_failure():
    keys, _n_tok, ref = _inputs(1)
    cms = CountMinSketch.create(**_stream_params("cms"))
    cms.add_many(keys[: keys.size // 2])
    c = Checks()
    check_cms(c, cms, ref)
    assert c.failed >= 1
    assert c.failures[0].startswith("cms.no_undercount")


def test_kll_missing_a_batch_is_a_failure():
    _keys, n_tok, ref = _inputs(1)
    kll = KLLSketch(**_stream_params("kll"))
    kll.add_many(n_tok[:-1])
    c = Checks()
    check_kll(c, kll, ref.n_tok_sorted)
    assert c.failures[0].startswith("kll.count")


# -- event-log attribution ---------------------------------------------------

def test_event_log_metrics_are_attributed_by_job_group(tmp_path):
    def task(stage, run_ms, ok=True):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 8}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-3"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "perfbench"}},
        task(0, 1000), task(1, 500), task(2, 250, ok=False),
    ]
    (tmp_path / "app").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n{torn")
    got = attribute_event_log(str(tmp_path))
    assert got["perfbench-3"]["jobs"] == 1
    assert got["perfbench-3"]["tasks"] == 2
    assert got["perfbench-3"]["executor_run_s"] == pytest.approx(1.5)
    assert got["perfbench-3"]["shuffle_write_bytes"] == 16
    assert got["perfbench"]["failed_tasks"] == 1
