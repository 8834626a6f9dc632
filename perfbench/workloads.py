"""The three closed-loop workloads: ``build``, ``probe`` and ``ingest``.

Each workload has a timed, repeatable set-up step (``prepare``: write
the seeded inputs, and for ``probe`` build the filter), an untimed
rest of set-up (``reference``: the exact answers the checks compare
against), one timed operation (``op``) run back to back by the driver
loop, untimed checks of each op's outputs (``check``) and untimed
final checks (``finish``). Every call into the library sits inside a
tracer span.

``op(i)`` returns ``(items, latency_s, outputs)``: the items it
processed, its latency when that is a part of the op (``None`` when it
is the whole op), and what ``check(i, outputs)`` verifies.

Functions shipped to Python workers are nested closures that reference
only the library and the standard library: the workers cannot import
this directory.
"""

from __future__ import annotations

import functools
import glob
import os
import pathlib
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuckoofilter_spark.sketch.aggregates import (cms_sketch, hll_sketch,
                                                  kll_sketch)
from cuckoofilter_spark.sketch.api import build_filter, contains_col
from cuckoofilter_spark.sources.catalog import read_sequences, write_sequences
from cuckoofilter_spark.sources.tokens import tokens_table
from cuckoofilter_spark.streaming.sketch_stream import StreamingSketchState

from checks import (CF_BITS, CF_FPP_BOUND, CMS_DELTA, CMS_EPS, HLL_P, KLL_K,
                    KLL_MERGED_BOUND, SKETCH_SEED, VOCAB, Checks, Reference, check_cms,
                    check_filter, check_hll, check_kll, negative_keys,
                    reference_from_parquet)
from tracing import Tracer

# Input sizes, chosen so one op takes a few seconds on a 4-core host
# and a run fits its time budget.
TABLE_DOCS = 16_000       # ~5.4M tokens, ~12 MB of Parquet
PROBE_KEYS = 4_000_000    # half present, half outside the vocabulary
BATCH_DOCS = 2_000        # ~0.7M tokens per micro-batch
NUM_BATCHES = 4           # cycled when a run outlasts them
FPR_NEGATIVES = 1 << 18   # driver-side FPR check of each built filter
STREAM_KINDS = ("hll", "cms", "kll")


def input_seeds(seed: int) -> dict:
    """Seeds of every generated input, derived from the run seed. The
    sketch parameters and check bounds (``checks``) never depend on it."""
    return {name: _mix64(seed, salt) for salt, name in
            enumerate(("tokens", "probe", "negatives"))}


def _mix64(seed: int, salt: int) -> int:
    """A 63-bit splitmix64 hash of (seed, salt). The token generator
    adds its seed to the document index, so nearby raw seeds would give
    tables that share all but a few documents."""
    m = (1 << 64) - 1
    z = (seed * 0x9E3779B97F4A7C15 + salt * 0xD1B54A32D192ED03) & m
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & m
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & m
    return (z ^ (z >> 31)) >> 1


def _stream_params(kind: str) -> dict:
    return {"hll": {"p": HLL_P, "seed": SKETCH_SEED},
            "cms": {"eps": CMS_EPS, "delta": CMS_DELTA, "seed": SKETCH_SEED},
            "kll": {"k": KLL_K, "seed": SKETCH_SEED}}[kind]


def _stream_col(kind: str) -> str:
    return "n_tok" if kind == "kll" else "tokens"


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


class Workload:
    """Shared plumbing; subclasses define prepare / reference / op /
    finish."""

    name = ""
    # Untimed ops run before the timed loop, numbered 0 .. warm_ops - 1,
    # while the JVM compiles Spark's planning paths: a cold build op
    # runs about 1.7x slower than a warm one and the next about 1.1x.
    warm_ops = 2

    def __init__(self, spark, tracer: Tracer, checks: Checks, seed: int,
                 cores: int):
        self.spark = spark
        self.tracer = tracer
        self.checks = checks
        self.seeds = input_seeds(seed)
        self.cores = cores
        self.write_s: list[float] = []
        self.accuracy: dict = {}

    def _write_tokens(self, path: str, docs: int, partitions: int) -> None:
        t = time.perf_counter()
        with self.tracer.span("sources.write_sequences"):
            write_sequences(tokens_table(self.spark, docs,
                                         seed=self.seeds["tokens"],
                                         vocab_size=VOCAB,
                                         partitions=partitions), path)
        self.write_s.append(time.perf_counter() - t)

    def scan_input(self) -> str:
        """Path whose read + token count sets the op's scan floor."""
        raise NotImplementedError

    def replay_file(self) -> str:
        """One partition's worth of the op's keys, for the kernel replay."""
        raise NotImplementedError

    def sketch_bytes(self) -> int:
        """Serialized size of what the op leaves behind."""
        raise NotImplementedError

    def scan_bytes(self) -> int:
        """Parquet bytes of ``scan_input``."""
        raise NotImplementedError

    def check(self, i: int, outputs) -> None:
        pass

    def finish(self) -> None:
        pass

    def layer_metrics(self) -> dict:
        return {}


class _TableWorkload(Workload):
    """Set-up shared by build and probe: the token table plus its
    exact reference."""

    def prepare(self, rep_dir: str) -> None:
        self.table = os.path.join(rep_dir, "table")
        self._write_tokens(self.table, TABLE_DOCS, self.cores)

    def reference(self) -> None:
        self.ref = reference_from_parquet(self.table)
        self.checks.check("setup.vocab_covered",
                          self.ref.present.size == VOCAB,
                          f"{self.ref.present.size} of {VOCAB} tokens present")
        self.negatives = negative_keys(self.seeds["negatives"], FPR_NEGATIVES)

    def scan_input(self) -> str:
        return self.table

    def replay_file(self) -> str:
        return _parquet_files(self.table)[0]

    def scan_bytes(self) -> int:
        return self.ref.bytes_on_disk


class BuildWorkload(_TableWorkload):
    """One op: read the table, then build the cuckoo filter, HLL, CMS
    and KLL over it (four scans, one per sketch)."""

    name = "build"

    def op(self, i: int):
        tr = self.tracer
        with tr.span("sources.read_sequences"):
            df = read_sequences(self.spark, self.table)
        with tr.span("sketch.build_filter"):
            filt = build_filter(df, "tokens", kind="cuckoo", bits=CF_BITS,
                                capacity=VOCAB, seed=SKETCH_SEED)
        with tr.span("sketch.hll_sketch"):
            hll = hll_sketch(df, "tokens", p=HLL_P, seed=SKETCH_SEED)
        with tr.span("sketch.cms_sketch"):
            cms = cms_sketch(df, "tokens", eps=CMS_EPS, delta=CMS_DELTA,
                             seed=SKETCH_SEED)
        with tr.span("sketch.kll_sketch"):
            kll = kll_sketch(df, "n_tok", k=KLL_K, seed=SKETCH_SEED)
        return self.ref.total_tokens, None, (filt, hll, cms, kll)

    def check(self, i: int, outputs) -> None:
        filt, hll, cms, kll = outputs
        c = self.checks
        self.accuracy = {**check_filter(c, filt, self.ref, self.negatives),
                         **check_hll(c, hll, self.ref),
                         **check_cms(c, cms, self.ref),
                         **check_kll(c, kll, self.ref.n_tok_sorted)}
        blobs = (b"".join(filt.blobs), hll.to_bytes(), cms.to_bytes(),
                 kll.to_bytes())
        self.blob_bytes = sum(len(b) for b in blobs)
        if i == 0:
            self.first_blobs = blobs
        c.check("build.deterministic", blobs == self.first_blobs,
                f"op {i} built different sketch bytes than op 0")

    def sketch_bytes(self) -> int:
        return self.blob_bytes

    def layer_metrics(self) -> dict:
        """Keys shipped in the filter build's partial blobs per token
        scanned: each input partition (one Parquet file) ships its
        distinct keys once."""
        import pyarrow.parquet as pq

        shipped = sum(
            np.unique(pq.read_table(f, columns=["tokens"]).column("tokens")
                      .combine_chunks().flatten().to_numpy()).size
            for f in _parquet_files(self.table))
        return {"sketch.cuckoo.partial_keys_ratio":
                shipped / self.ref.total_tokens}


class ProbeWorkload(_TableWorkload):
    """Set-up builds one cuckoo filter over the table; one op probes
    PROBE_KEYS seeded keys through ``contains_col`` and counts hits."""

    name = "probe"

    def prepare(self, rep_dir: str) -> None:
        super().prepare(rep_dir)
        with self.tracer.span("sketch.build_filter"):
            self.filt = build_filter(
                read_sequences(self.spark, self.table), "tokens",
                kind="cuckoo", bits=CF_BITS, capacity=VOCAB, seed=SKETCH_SEED)

    def reference(self) -> None:
        super().reference()
        self.accuracy = check_filter(self.checks, self.filt, self.ref,
                                     self.negatives)
        self.keys = self._keys_df()
        self.hits = None

    def _keys_df(self):
        """PROBE_KEYS keys generated in the JVM: even hashes pick a
        vocabulary token (present), odd ones a key past the vocabulary
        (absent)."""
        h = F.xxhash64(F.col("id"), F.lit(self.seeds["probe"]))
        return (self.spark.range(PROBE_KEYS, numPartitions=self.cores)
                .select(h.alias("h"))
                .select(F.when(F.col("h") % 2 == 0,
                               F.pmod(F.shiftright("h", 1), F.lit(VOCAB)))
                        .otherwise(F.lit(VOCAB) + F.pmod(F.shiftright("h", 1),
                                                         F.lit(1 << 40)))
                        .alias("k")))

    def op(self, i: int):
        with self.tracer.span("sketch.contains_col"):
            hit = contains_col(self.spark, self.filt, "k")
            row = (self.keys.select(hit.alias("hit"),
                                    (F.col("k") < VOCAB).alias("pres"))
                   .agg(F.sum(F.col("hit").cast("long")).alias("hits"),
                        F.count_if(F.col("pres") & ~F.col("hit")).alias("fn"),
                        F.count_if(~F.col("pres") & F.col("hit")).alias("fp"),
                        F.count_if(~F.col("pres")).alias("neg"))
                   .first())
        return PROBE_KEYS, None, row

    def check(self, i: int, row) -> None:
        c = self.checks
        c.check("probe.false_negatives", row["fn"] == 0,
                f"{row['fn']} present keys missed")
        fpp = row["fp"] / max(1, row["neg"])
        c.check("probe.fpp", fpp <= CF_FPP_BOUND,
                f"observed {fpp:.5f} > bound {CF_FPP_BOUND:.5f}")
        if self.hits is None:
            self.hits = row["hits"]
        c.check("probe.deterministic", row["hits"] == self.hits,
                f"op {i} counted {row['hits']} hits, op 0 {self.hits}")
        self.accuracy["cf_fpp"] = fpp

    def sketch_bytes(self) -> int:
        return self.filt.size_in_bytes()

    def layer_metrics(self) -> dict:
        """The Arrow-crossing floor (same key volume through a
        constant-true pandas_udf) and the broadcast filter size."""
        @F.pandas_udf(T.BooleanType())
        def const_true(s: pd.Series) -> pd.Series:
            return pd.Series(np.ones(len(s), dtype=bool))

        floor = []
        for _ in range(2):
            t = time.perf_counter()
            self.keys.select(const_true("k").alias("hit")).agg(
                F.sum(F.col("hit").cast("long"))).first()
            floor.append(time.perf_counter() - t)
        return {"sketch.probe.pipe_floor_s": float(np.median(floor)),
                "sketch.probe.broadcast_bytes":
                    sum(len(b) for b in self.filt.blobs)}


class IngestWorkload(Workload):
    """Micro-batches fed one at a time through
    ``StreamingSketchState.update`` for HLL, CMS and KLL, as
    ``foreachBatch`` does; each update is followed by a read of the
    committed state."""

    name = "ingest"
    # An update is mostly per-job driver work. Its CPU time keeps
    # falling for about eight batches, in steps that come at different
    # batches from run to run.
    warm_ops = 8

    def prepare(self, rep_dir: str) -> None:
        root = os.path.join(rep_dir, "batches")
        # one file per spark.range partition: file j holds docs
        # [j * BATCH_DOCS, (j + 1) * BATCH_DOCS)
        self._write_tokens(root, NUM_BATCHES * BATCH_DOCS, NUM_BATCHES)
        self.files = _parquet_files(root)
        self.state_root = os.path.join(rep_dir, "state")

    def reference(self) -> None:
        self.checks.check("setup.batch_files",
                          len(self.files) == NUM_BATCHES,
                          f"{len(self.files)} files for {NUM_BATCHES} batches")
        self.refs = [reference_from_parquet(f) for f in self.files]
        self.states = {k: StreamingSketchState(
            os.path.join(self.state_root, k), k, _stream_col(k),
            **_stream_params(k)) for k in STREAM_KINDS}
        self.fed: list[int] = []
        self.update_s = {k: [] for k in STREAM_KINDS}
        self.load_s: list[float] = []
        self.sample_keys = np.arange(0, VOCAB, 97).astype(np.uint64)

    def _batch_df(self, batch_id: int):
        with self.tracer.span("sources.read_sequences"):
            return read_sequences(self.spark,
                                  self.files[batch_id % NUM_BATCHES])

    def op(self, i: int):
        """The latency is from the first ``update`` call until the last
        state is committed; the op adds the read of that state."""
        df = self._batch_df(i)
        t0 = time.perf_counter()
        for kind in STREAM_KINDS:
            t = time.perf_counter()
            with self.tracer.span(f"streaming.update.{kind}"):
                self.states[kind].update(df, i)
            self.update_s[kind].append(time.perf_counter() - t)
        t = time.perf_counter()
        commit_s = t - t0
        with self.tracer.span("streaming.load"):
            hll = self.states["hll"].load()
            cms = self.states["cms"].load()
            kll = self.states["kll"].load()
        self.load_s.append(time.perf_counter() - t)
        with self.tracer.span("streaming.query"):
            est = hll.estimate()
            counts = cms.query_many(self.sample_keys)
            qs = kll.quantile([0.5, 0.9, 0.99])
        self.fed.append(i)
        return (self.refs[i % NUM_BATCHES].total_tokens, commit_s,
                (est, counts, qs))

    def check(self, i: int, outputs) -> None:
        est, counts, qs = outputs
        for kind in STREAM_KINDS:
            last = self.states[kind].last_batch_id()
            self.checks.check(f"ingest.{kind}.committed", last == i,
                              f"state at batch {last} after update {i}")
        self.checks.check("ingest.read", est > 0 and counts.min() > 0
                          and bool(np.isfinite(qs).all()),
                          "empty or non-finite read of committed state")

    def _union_reference(self) -> Reference:
        refs = [self.refs[i % NUM_BATCHES] for i in self.fed]
        return Reference(sum(r.counts for r in refs),
                         np.sort(np.concatenate([r.n_tok_sorted
                                                 for r in refs])),
                         sum(r.bytes_on_disk for r in refs))

    def finish(self) -> None:
        """Merged state == one batch build over the union of every fed
        micro-batch (HLL and CMS byte for byte); KLL within its bound;
        a re-delivered batch is skipped by the batch-id guard."""
        c = self.checks
        union = functools.reduce(
            lambda a, b: a.unionByName(b),
            [read_sequences(self.spark, self.files[i % NUM_BATCHES])
             for i in self.fed])
        ref = self._union_reference()
        hll = self.states["hll"].load()
        cms = self.states["cms"].load()
        kll = self.states["kll"].load()
        c.check("ingest.hll.merge_equals_batch",
                hll.to_bytes() == hll_sketch(union, "tokens",
                                             **_stream_params("hll")).to_bytes(),
                "merged HLL state differs from the one-shot build")
        c.check("ingest.cms.merge_equals_batch",
                cms.to_bytes() == cms_sketch(union, "tokens",
                                             **_stream_params("cms")).to_bytes(),
                "merged CMS state differs from the one-shot build")
        self.accuracy = {**check_hll(c, hll, ref), **check_cms(c, cms, ref),
                         **check_kll(c, kll, ref.n_tok_sorted,
                                     KLL_MERGED_BOUND)}
        last = self.fed[-1]
        df = read_sequences(self.spark, self.files[last % NUM_BATCHES])
        self.replayed = 0
        for kind, st in self.states.items():
            state = pathlib.Path(st._state_path())
            before = state.read_bytes()
            st.update(df, last)
            skipped = state.read_bytes() == before
            self.replayed += skipped
            c.check(f"ingest.{kind}.replay_skipped", skipped,
                    "a re-delivered batch changed the committed state")

    def scan_input(self) -> str:
        return self.files[0]

    def replay_file(self) -> str:
        return self.files[0]

    def scan_bytes(self) -> int:
        return self.refs[0].bytes_on_disk

    def sketch_bytes(self) -> int:
        """Size of the committed ``state.bin`` files."""
        return sum(os.path.getsize(st._state_path())
                   for st in self.states.values())

    def layer_metrics(self) -> dict:
        """Medians over the timed ops (the warm-up ops come first)."""
        out = {f"streaming.update_s.{k}": float(np.median(v[self.warm_ops:]))
               for k, v in self.update_s.items()}
        out["streaming.load_s"] = float(np.median(self.load_s[self.warm_ops:]))
        out["streaming.state_bytes"] = self.sketch_bytes()
        out["streaming.replayed_batches"] = self.replayed
        return out


WORKLOADS = {w.name: w for w in (BuildWorkload, ProbeWorkload, IngestWorkload)}
