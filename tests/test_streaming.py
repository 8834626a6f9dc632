"""Streaming sketch state: foreachBatch merge, replay idempotence, and a
real Structured Streaming run over a file source."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.kernels.hll import HyperLogLog
from cuckoofilter_spark.sketch.aggregates import hll_sketch
from cuckoofilter_spark.sources.tokens import tokens_table
from cuckoofilter_spark.streaming.sketch_stream import StreamingSketchState


def test_foreachbatch_merge_and_replay(spark, tmp_path):
    toks = tokens_table(spark, 600, seed=42).persist()
    b0 = toks.where("doc_id < 'doc000000000200'")
    b1 = toks.where("doc_id >= 'doc000000000200' AND doc_id < 'doc000000000400'")
    b2 = toks.where("doc_id >= 'doc000000000400'")

    st = StreamingSketchState(str(tmp_path / "hll"), "hll", "tokens", p=13, seed=3)
    st.update(b0, 0)
    st.update(b1, 1)
    st.update(b1, 1)  # replayed micro-batch must be a no-op
    st.update(b0, 0)  # stale replay must be a no-op
    st.update(b2, 2)

    streamed = st.load()
    whole = hll_sketch(toks, "tokens", p=13, seed=3)
    # incremental merge over disjoint batches == one-shot build, bit-exact
    assert np.array_equal(streamed.registers, whole.registers)
    assert st.last_batch_id() == 2


def test_cms_replay_guard_protects_counts(spark, tmp_path):
    toks = tokens_table(spark, 200, seed=42).persist()
    st = StreamingSketchState(str(tmp_path / "cms"), "cms", "tokens",
                              eps=0.01, delta=0.01, seed=3)
    st.update(toks, 0)
    total_once = st.load().total
    st.update(toks, 0)  # replay
    assert st.load().total == total_once  # counts not doubled


@pytest.mark.parametrize("grouped", [False, True])
def test_update_parses_state_once(spark, tmp_path, grouped):
    """One ``_read`` of state.bin per ``update``: the replay guard and
    the merge share it, on a first commit, a merge and a replay."""
    from cuckoofilter_spark.streaming.sketch_stream import (
        GroupedStreamingSketchState)

    df = spark.range(2000).selectExpr("concat('s', id % 2) AS src",
                                      "id % 300 AS t")
    kw = dict(eps=0.01, delta=0.01, seed=3)
    st = (GroupedStreamingSketchState(str(tmp_path), "cms", "src", "t", **kw)
          if grouped else StreamingSketchState(str(tmp_path), "cms", "t", **kw))
    reads, read = [], st._read
    st._read = lambda: reads.append(1) or read()
    for batch_id in (0, 1, 1):
        reads.clear()
        st.update(df, batch_id)
        assert len(reads) == 1, batch_id
    cur = st.load()
    total = (sum(k.total for k in cur.values()) if grouped else cur.total)
    assert total == 2 * 2000


def test_real_stream_file_source(spark, tmp_path):
    # write the token table as a parquet "stream" directory, read it as a
    # stream, run one availableNow pass through foreachBatch
    toks = tokens_table(spark, 300, seed=42)
    src = str(tmp_path / "src")
    toks.write.parquet(src)
    stream = (spark.readStream.schema(toks.schema)
              .option("maxFilesPerTrigger", "2").parquet(src))
    st = StreamingSketchState(str(tmp_path / "st"), "hll", "tokens", p=13, seed=5)
    q = st.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert not q.isActive
    streamed = st.load()
    whole = hll_sketch(toks, "tokens", p=13, seed=5)
    assert np.array_equal(streamed.registers, whole.registers)
    assert st.last_batch_id() >= 0


def test_streaming_dedup_cuckoo_state(spark, tmp_path):
    """streaming_dedup: cuckoo-filter seen-set state across micro-batches.
    3000 rows / 500 distinct keys scattered over 6 files -> the streamed
    output must contain each key exactly once (cross-batch duplicates
    dropped by the filter state, in-batch by the first-occurrence mask)
    and, at 16-bit tags on this keyspace (zero FP, verified deterministic
    for this seed), exactly the full distinct set — no unique loss."""
    from cuckoofilter_spark.streaming.dedup_stream import streaming_dedup

    rows = (spark.range(3000)
            .select((F.col("id") % 500).alias("k"),
                    F.col("id").alias("payload")))
    src = str(tmp_path / "src")
    rows.repartition(6).write.parquet(src)
    stream = (spark.readStream.schema(rows.schema)
              .option("maxFilesPerTrigger", "2").parquet(src))
    out = streaming_dedup(stream, "k", capacity_per_shard=256,
                          bits=16, num_shards=8, seed=7)
    q = (out.writeStream.format("memory").queryName("dedup")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert not q.isActive
    got = spark.sql("SELECT k, payload FROM dedup").collect()
    ks = [r["k"] for r in got]
    assert len(ks) == len(set(ks))  # no duplicates, guaranteed by no-FN
    assert sorted(ks) == list(range(500))  # zero FP drop for this seed
    # pass-through rows are genuine input rows (payload % 500 == key)
    assert all(r["payload"] % 500 == r["k"] for r in got)


def test_stateful_per_key_distinct(spark, tmp_path):
    """applyInPandasWithState: per-source HLL over a multi-batch stream
    equals the one-shot batch build per key (merge is batch-boundary
    independent)."""
    from cuckoofilter_spark.streaming.stateful import streaming_distinct_by_key

    toks = tokens_table(spark, 400, seed=42)
    src = str(tmp_path / "src")
    # several files so maxFilesPerTrigger yields multiple micro-batches
    toks.repartition(6).write.parquet(src)
    stream = (spark.readStream.schema(toks.schema)
              .option("maxFilesPerTrigger", "2").parquet(src))
    out = streaming_distinct_by_key(stream, "source", "tokens", p=12, seed=9)
    q = (out.writeStream.format("memory").queryName("perkey")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert not q.isActive
    rows = spark.sql(
        "SELECT key, estimate FROM (SELECT key, estimate, row_number() OVER "
        "(PARTITION BY key ORDER BY estimate DESC) rn FROM perkey) WHERE rn=1"
    ).collect()
    got = {r["key"]: r["estimate"] for r in rows}
    # exact one-shot per-key build for comparison
    for key in got:
        sub = toks.where(F.col("source") == key)
        one = hll_sketch(sub, "tokens", p=12, seed=9)
        assert abs(got[key] - one.estimate()) < 1e-9, key  # bit-exact merge
    assert len(got) >= 2  # several sources actually streamed


def test_stateful_per_key_distinct_skips_null_elements(spark, tmp_path):
    """A NULL array element adds nothing to the per-key HLL, and the
    other tokens of its batch stay exact 64-bit integers (a NULL used to
    turn the batch's lists into float64: NULL became INT64_MIN and
    tokens above 2^53 were rounded)."""
    from cuckoofilter_spark.streaming.stateful import streaming_distinct_by_key

    rows = spark.createDataFrame(
        [("a", [1, None, 2**53 + 1]), ("a", [4])],
        "source string, tokens array<bigint>")
    src = str(tmp_path / "src")
    rows.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(rows.schema).parquet(src)
    out = streaming_distinct_by_key(stream, "source", "tokens", p=12, seed=9)
    q = (out.writeStream.format("memory").queryName("perkey_nulls")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert not q.isActive
    (got,) = spark.sql("SELECT estimate FROM perkey_nulls").collect()
    want = HyperLogLog(p=12, seed=9)
    want.add_many(np.array([1, 2**53 + 1, 4], dtype=np.uint64))
    assert got["estimate"] == want.estimate()
    assert round(got["estimate"], 2) == 3.00


def test_streaming_dedup_null_key_fails_explicitly(spark, tmp_path):
    """A NULL key must fail the micro-batch with the explicit
    streaming_dedup error (an AMQ has no NULL slot), not a NaN-cast
    worker traceback — and must not silently dedup NULLs onto key 0."""
    from pyspark.sql.utils import StreamingQueryException

    from cuckoofilter_spark.streaming.dedup_stream import streaming_dedup

    rows = (spark.range(40)
            .select(F.when(F.col("id") % 8 == 0, None)
                    .otherwise(F.col("id") % 10).alias("k"),
                    F.col("id").alias("payload")))
    src = str(tmp_path / "src")
    rows.write.parquet(src)
    stream = spark.readStream.schema(rows.schema).parquet(src)
    out = streaming_dedup(stream, "k", capacity_per_shard=64,
                          bits=16, num_shards=4, seed=7)
    q = (out.writeStream.format("memory").queryName("dedup_null")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="NULL in key column"):
        q.awaitTermination(180)
        raise AssertionError("NULL-key stream should have failed")


def test_streaming_mg_state(spark, tmp_path):
    """MG over foreachBatch state: replay of a micro-batch is a
    bit-exact no-op (batch-id guard), totals are exact, and estimates
    keep the MG bracket [true - D, true] for the true top tokens.
    (Split-vs-whole bit-equality is NOT asserted: it only holds when
    batch boundaries align with partition boundaries, since compaction
    points differ otherwise — the guarantee is the bracket, not the
    summary bytes.)"""
    from pyspark.sql import functions as F

    toks = tokens_table(spark, 600, seed=42).persist()
    b0 = toks.where("doc_id < 'doc000000000300'")
    b1 = toks.where("doc_id >= 'doc000000000300'")

    st = StreamingSketchState(str(tmp_path / "mg"), "mg", "tokens", k=128)
    st.update(b0, 0)
    st.update(b1, 1)
    mid = st.load().to_bytes()
    st.update(b1, 1)  # replayed micro-batch must be a bit-exact no-op
    streamed = st.load()
    assert streamed.to_bytes() == mid

    n_exact = toks.agg(F.sum("n_tok")).first()[0]
    assert streamed.n == n_exact
    d = streamed.error_bound()
    assert d <= streamed.n // 129 + 64  # summed per-partial bound
    top = (toks.select(F.explode("tokens").alias("t"))
           .groupBy("t").agg(F.count("*").alias("c"))
           .orderBy(F.desc("c")).limit(10).collect())
    est = streamed.estimate(
        np.array([r["t"] for r in top], dtype=np.uint64))
    for e, r in zip(est, top):
        if r["c"] > d:
            assert e > 0, (r, d)
        if e > 0:
            assert e <= r["c"] <= e + d, (r, e, d)


def test_stateless_corpus_ops_compose_on_streams(spark, tmp_path):
    """stratified_sample and the strhash keyify are stateless row ops,
    so the SAME code path must run under Structured Streaming unchanged
    (no batch/stream fork in the library) and produce exactly the batch
    answer once the stream drains."""
    from cuckoofilter_spark.ops.packing import stratified_sample
    from cuckoofilter_spark.sketch.strhash import murmur32_col

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "zh", f"d{i}") for i in range(300)],
        "doc_id long, lang string, name string")
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)

    def pipe(df):
        s = stratified_sample(df, "doc_id", "lang", {"en": 40, "zh": 100})
        return s.withColumn("h", murmur32_col("name", seed=9))

    batch_rows = {tuple(r) for r in pipe(docs).collect()}

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (pipe(stream).writeStream.format("memory").queryName("corpus_ops")
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    q.awaitTermination(120)
    assert not q.isActive
    stream_rows = {tuple(r) for r in spark.sql(
        "SELECT * FROM corpus_ops").collect()}
    assert stream_rows == batch_rows and len(batch_rows) > 0


def test_streaming_mg_state_stays_bounded(spark, tmp_path):
    """The persisted MG blob must be re-bounded to k entries every
    micro-batch (compact-after-merge, the Agarwal et al. mergeable rule)
    — without it the state grows ~k entries per batch toward an exact
    count map (regression, round 3)."""
    k = 16
    st = StreamingSketchState(str(tmp_path / "mgb"), "mg", "t", k=k)
    for b in range(5):
        # disjoint high-cardinality keys per batch
        df = spark.range(b * 1000, b * 1000 + 300).selectExpr("id AS t")
        st.update(df, b)
        assert st.load().keys.size <= k, f"batch {b} leaked state"


def test_grouped_streaming_sketch_state(spark, tmp_path):
    """Per-group streaming HLL: incremental merge over disjoint batches
    equals the one-shot grouped build bit-exactly; replays are no-ops;
    MG state stays bounded per group."""
    from cuckoofilter_spark.sketch.aggregates import grouped_hll_sketch
    from cuckoofilter_spark.kernels.hll import HyperLogLog
    from cuckoofilter_spark.streaming.sketch_stream import (
        GroupedStreamingSketchState)

    df = spark.range(9000).selectExpr(
        "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('s', id % 3) END AS src",
        "id % 2000 AS t")
    b0, b1 = df.where("id < 4500"), df.where("id >= 4500")

    st = GroupedStreamingSketchState(str(tmp_path / "g"), "hll", "src", "t",
                                     p=12, seed=7)
    st.update(b0, 0)
    st.update(b1, 1)
    st.update(b1, 1)  # replay must be a bit-exact no-op
    streamed = st.load()
    whole = {r["src"]: bytes(r["blob"]) for r in
             grouped_hll_sketch(df, "src", "t", p=12, seed=7).collect()}
    assert set(streamed) == set(whole) and None in streamed
    for g, blob in whole.items():
        assert streamed[g].to_bytes() == blob, g

    mg = GroupedStreamingSketchState(str(tmp_path / "mg"), "mg", "src", "t",
                                     k=16)
    for b in range(3):
        mg.update(spark.range(b * 900, b * 900 + 400).selectExpr(
            "concat('s', id % 2) AS src", "id AS t"), b)
        assert all(k.keys.size <= 16 for k in mg.load().values())


def test_grouped_streaming_kll_doubles_and_atomic_commit(spark, tmp_path):
    """(a) grouped streaming KLL must accept double value columns (its
    primary use); (b) the batch-id guard rides in the SAME atomic file
    as the blobs — a stale/corrupt meta sidecar must not affect replay
    protection (the two-file commit's crash window, fixed)."""
    import json as _json
    import os as _os

    from cuckoofilter_spark.streaming.sketch_stream import (
        GroupedStreamingSketchState)

    st = GroupedStreamingSketchState(str(tmp_path / "k"), "kll", "src", "v",
                                     k=200, seed=3)
    df = spark.range(4000).selectExpr("concat('s', id % 2) AS src",
                                      "CAST(id % 500 AS DOUBLE) AS v")
    st.update(df, 0)
    med = {g: float(k.quantile(0.5)[0]) for g, k in st.load().items()}
    assert set(med) == {"s0", "s1"} and all(200 < m < 300 for m in med.values())
    # corrupt the informational sidecar: the guard must still hold
    with open(_os.path.join(str(tmp_path / "k"), "state.json"), "w") as f:
        _json.dump({"batch_id": -1}, f)
    before = st.load()["s0"].to_bytes()
    st.update(df, 0)  # replay — must be a no-op despite the bad sidecar
    assert st.load()["s0"].to_bytes() == before
    assert st.last_batch_id() == 0


def test_windowed_sketch_rollup_with_late_data(spark, tmp_path):
    """Event-time tumbling-window sketch rollup: one HLL per 1-hour
    window maintained across micro-batches where batch 1 delivers LATE
    rows for windows batch 0 already closed. Correctness needs no
    watermark — a late row merges into its window's sketch (associative
    + commutative merge, batch-id replay guard intact) — and the result
    is bit-exact vs the one-shot grouped batch build over all rows."""
    from cuckoofilter_spark.sketch.aggregates import grouped_hll_sketch
    from cuckoofilter_spark.streaming.sketch_stream import (
        GroupedStreamingSketchState, tumbling_window_col)

    # events spanning 3 hour-windows; user ids overlap across windows
    df = spark.range(6000).selectExpr(
        "timestamp_seconds(1700000000 + (id % 3) * 3600 + id % 60) AS ts",
        "id % 700 AS user")
    win = tumbling_window_col("ts", "1 hour")
    keyed = df.withColumn("win", win)
    # batch 0: the "on-time" slice; batch 1: stragglers for EVERY
    # window including ones batch 0 already produced state for
    b0, b1 = keyed.where("id % 5 != 0"), keyed.where("id % 5 = 0")

    st = GroupedStreamingSketchState(str(tmp_path / "w"), "hll", "win",
                                     "user", p=12, seed=11)
    st.update(b0, 0)
    closed = {g: k.to_bytes() for g, k in st.load().items()}
    assert len(closed) == 3
    st.update(b1, 1)  # late arrivals
    st.update(b1, 1)  # replay of the late batch: bit-exact no-op
    streamed = st.load()

    whole = {r["g"]: bytes(r["blob"]) for r in
             grouped_hll_sketch(keyed, "win", "user", p=12, seed=11)
             .withColumnRenamed("win", "g").collect()}
    assert set(streamed) == set(whole) == set(closed)
    for g, blob in whole.items():
        assert streamed[g].to_bytes() == blob, g
        assert streamed[g].to_bytes() != closed[g], g  # late rows landed
        est, n = streamed[g].estimate(), 700
        assert abs(est - n) < 0.15 * n


def test_commit_fsyncs_file_before_rename_and_directory_after(tmp_path,
                                                              monkeypatch):
    """state.bin.tmp reaches the disk before the rename makes it the
    state, and the directory entry before the commit returns."""
    import os

    st = StreamingSketchState(str(tmp_path / "st"), "hll", "tokens")
    calls = []
    real_replace = os.replace

    def fsync(fd):
        calls.append(("fsync", os.fstat(fd).st_ino))

    def replace(src, dst):
        calls.append(("replace", os.stat(src).st_ino, os.path.basename(dst)))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    st._commit([(None, HyperLogLog(p=10).to_bytes())], 0)
    ino = os.stat(st._state_path()).st_ino
    assert calls[:3] == [("fsync", ino), ("replace", ino, "state.bin"),
                         ("fsync", os.stat(st.state_dir).st_ino)], calls
    assert st.last_batch_id() == 0


def test_last_batch_id_reads_only_the_header(tmp_path):
    """``last_batch_id`` gives the full parse's batch id from the 8-byte
    prefix and the JSON header, reading no blob, and still refuses a
    file without the envelope's magic."""
    from cuckoofilter_spark.kernels.cms import CountMinSketch

    st = StreamingSketchState(str(tmp_path / "st"), "cms", "tokens")
    assert st.last_batch_id() == -1
    blob = CountMinSketch.create().to_bytes()
    st._commit([(None, blob)], 7)

    class Counted:
        def __init__(self, f):
            self.f, self.n = f, 0

        def read(self, size=-1):
            b = self.f.read(size)
            self.n += len(b)
            return b

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

    opened, real_open = [], st._open
    st._open = lambda: opened.append(Counted(real_open())) or opened[-1]
    assert st.last_batch_id() == 7 == st._read()["batch_id"]
    assert opened[0].n < 1024 < len(blob)
    assert opened[1].n > len(blob)

    with open(st._state_path(), "r+b") as f:
        f.write(b"XXXX")
    with pytest.raises(ValueError, match="bad magic b'XXXX'"):
        st.last_batch_id()
