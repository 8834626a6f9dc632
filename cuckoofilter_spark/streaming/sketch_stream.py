"""Incremental sketch maintenance over Structured Streaming.

The reference has no streaming surface (SURVEY §2.6) — this is the
Spark-native extension its capabilities imply: because every sketch in
the library is an associative+commutative mergeable state (the UDAF
contract), maintaining one over an unbounded stream is just

    for each micro-batch:  state <- merge(state, partial(batch))

which is exactly ``foreachBatch`` + the existing batch builders. No
custom stateful operator (applyInPandasWithState) is needed for
*global* sketches — the state is a handful of blobs, not per-key rows —
so we keep the simplest fault-tolerant shape: the state table is a
Parquet dataset of ``(group, kind, blob, updated_batch)`` rows,
overwritten atomically per micro-batch, idempotent under micro-batch
replay (merge of the same partial twice is NOT idempotent for CMS/KLL
counts, so we guard by recording the last applied batch id — the
standard foreachBatch exactly-once recipe).

At scale: the per-batch partial is computed distributively (same
partial/tree-merge path as the batch builders); only blobs touch the
state table. A restart replays from the checkpointed offset, sees the
recorded batch id, and skips already-applied batches.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from ..kernels.cms import CountMinSketch
from ..kernels.hll import HyperLogLog
from ..kernels.kll import KLLSketch
from ..kernels.mg import MisraGries
from ..sketch.aggregates import cms_sketch, hll_sketch, kll_sketch, mg_sketch

_KINDS = {
    "hll": (HyperLogLog, hll_sketch),
    "cms": (CountMinSketch, cms_sketch),
    "kll": (KLLSketch, kll_sketch),
    "mg": (MisraGries, mg_sketch),
}


_STATE_MAGIC = b"CFS1"

# group-key codec for the envelope header: JSON-safe (type_tag, value)
# pairs so loading state NEVER executes anything (no pickle). Only the
# scalar types the grouped protocol emits are representable; anything
# else fails the commit loudly rather than the load silently.
_KEY_TAGS = {type(None): "n", bool: "b", int: "i", float: "f", str: "s"}


def _tag_key(g):
    tag = _KEY_TAGS.get(type(g))
    if tag is None:
        raise TypeError(
            f"group key {g!r} of type {type(g).__name__} is not "
            "envelope-representable (supported: None/bool/int/float/str)")
    return [tag, g]


def _untag_key(tagged):
    tag, v = tagged
    return {"n": lambda x: None, "b": bool, "i": int, "f": float,
            "s": str}[tag](v)


class _SketchStateBase:
    """Shared machinery of the streaming sketch states: kind
    validation, the SINGLE-FILE atomic commit (batch id and blobs ride
    in one ``os.replace``d file, so a crash can never leave the
    exactly-once guard behind the merged state — a two-file commit
    would double-merge the batch on replay if it died between the
    replaces), the replay guard, and the writeStream hookup. A
    state.json sidecar is written AFTER the commit purely for human
    inspection; state.bin is the authority.

    state.bin is a NON-EXECUTABLE envelope (no pickle anywhere): magic
    + a JSON header carrying batch_id/kind and per-entry (tagged group
    key, blob length), followed by the kernels' own versioned to_bytes
    blobs verbatim. Loading it can parse bytes and JSON, nothing else —
    a writable state directory is not a code-execution vector, and the
    format is pinned to the kernels' blob versioning rather than
    pickle internals."""

    def __init__(self, state_dir: str, kind: str, col: str, **params):
        if kind not in _KINDS:
            raise ValueError(f"kind must be one of {sorted(_KINDS)}")
        self.state_dir = state_dir
        self.kind = kind
        self.col = col
        self.params = params
        os.makedirs(state_dir, exist_ok=True)

    # -- state io ---------------------------------------------------------
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "state.bin")

    def _meta_path(self) -> str:
        return os.path.join(self.state_dir, "state.json")

    def _legacy_check(self) -> None:
        for legacy in ("state.pkl", "state.blob"):
            p = os.path.join(self.state_dir, legacy)
            if os.path.exists(p):
                raise RuntimeError(
                    f"{self.state_dir} holds legacy sketch state ({legacy}) "
                    "from a previous on-disk format; starting fresh would "
                    "silently drop it (the Spark checkpoint prevents "
                    "replaying committed batches). Run "
                    "cuckoofilter_spark.streaming.sketch_stream."
                    "migrate_legacy_pickle_state(state_dir) once, or remove "
                    "the file AND the stream checkpoint to rebuild from "
                    "scratch.")

    def _open(self):
        """state.bin opened for reading, or None before the first commit."""
        try:
            return open(self._state_path(), "rb")
        except OSError:
            self._legacy_check()
            return None

    def _header(self, f) -> dict:
        """The JSON header after the 8-byte prefix (magic, header length);
        ``f`` is left at the first blob."""
        prefix = f.read(8)
        if prefix[:4] != _STATE_MAGIC:
            raise ValueError(
                f"{self._state_path()}: bad magic {prefix[:4]!r} — not a "
                "sketch state envelope")
        hlen = int.from_bytes(prefix[4:8], "little")
        return json.loads(f.read(hlen).decode("utf-8"))

    def _read(self) -> dict | None:
        """Parse state.bin -> {batch_id, entries: [(tagged_key, blob)]}."""
        f = self._open()
        if f is None:
            return None
        with f:
            hdr = self._header(f)
            raw = f.read()
        off = 0
        entries = []
        for tagged, blen in hdr["entries"]:
            entries.append((tagged, raw[off:off + blen]))
            off += blen
        return {"batch_id": int(hdr["batch_id"]), "entries": entries}

    def last_batch_id(self) -> int:
        """The committed batch id, read from the header alone."""
        f = self._open()
        if f is None:
            return -1
        with f:
            return int(self._header(f)["batch_id"])

    def load(self):
        """The state's kernels, decoded by the subclass's ``_decode``."""
        return self._decode(self._read())

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: exactly-once via the recorded batch id.

        Replayed micro-batches (restart after failure between partial
        computation and state commit) are skipped — merging the same
        partial twice would double CMS counts. One parse of state.bin
        serves the guard and the merge.
        """
        d = self._read()
        if d is not None and batch_id <= d["batch_id"]:
            return
        entries, meta = self._merge_batch(batch_df, self._decode(d))
        self._commit(entries, batch_id, **meta)

    def _commit(self, entries: list, batch_id: int, **meta) -> None:
        """``entries``: [(group_key_or_None, blob_bytes)]."""
        hdr = json.dumps({
            "format_version": 1, "batch_id": batch_id, "kind": self.kind,
            "entries": [[_tag_key(g), len(b)] for g, b in entries],
        }).encode("utf-8")
        tmp = self._state_path() + ".tmp"
        with open(tmp, "wb") as f:
            f.write(_STATE_MAGIC)
            f.write(len(hdr).to_bytes(4, "little"))
            f.write(hdr)
            for _g, b in entries:
                f.write(b)
            # the data is on disk before the rename can be, and the
            # rename before the commit returns: a power loss never
            # leaves a renamed but empty or torn state.bin
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._state_path())  # the ONE atomic commit
        fd = os.open(self.state_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "updated_at": time.time(),
                       "kind": self.kind, "col": self.col, **meta}, f)
        os.replace(tmp, self._meta_path())

    def attach(self, stream_df: DataFrame, checkpoint_dir: str,
               trigger_available_now: bool = True):
        """Wire this state into a writeStream.foreachBatch query."""
        w = (stream_df.writeStream
             .foreachBatch(self.update)
             .option("checkpointLocation", checkpoint_dir))
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    @staticmethod
    def _compact_if_mg(kind: str, merged) -> None:
        if kind == "mg":
            # MG merge is the exact sparse sum — without the decrement
            # step the persisted summary would grow by up to k entries
            # per micro-batch (unlike the fixed-size HLL/CMS/KLL blobs).
            # Compact-after-merge IS streaming Misra-Gries: the total
            # undercount stays <= n/(k+1) across the whole stream.
            merged.compact()


class StreamingSketchState(_SketchStateBase):
    """Single-blob mergeable sketch state for foreachBatch sinks."""

    def _decode(self, d: dict | None):
        """Current sketch (or None before the first commit)."""
        if d is None:
            return None
        cls, _build = _KINDS[self.kind]
        return cls.from_bytes(d["entries"][0][1])

    def _merge_batch(self, batch_df: DataFrame, cur):
        cls, build = _KINDS[self.kind]
        partial = build(batch_df, self.col, **self.params)
        merged = partial if cur is None else cls.merge(cur, partial)
        self._compact_if_mg(self.kind, merged)
        return [(None, merged.to_bytes())], {}


class GroupedStreamingSketchState(_SketchStateBase):
    """Per-GROUP mergeable sketch state for foreachBatch sinks — the
    streaming leg of ``grouped_aggregate_sketch`` (one sketch per
    source/language/shard maintained over an unbounded stream).

    Each micro-batch computes distributed per-group partials (the same
    map-side-combining grouped protocol; only (group, blob) rows reach
    the driver — bounded by group cardinality, the documented contract
    of the grouped surface), merges them into the persisted per-group
    blobs, and commits atomically with the base class' single-file
    batch-id guard. MG summaries compact after every merge so state
    stays <= k entries per group."""

    def __init__(self, state_dir: str, kind: str, group_col: str,
                 col: str, **params):
        super().__init__(state_dir, kind, col, **params)
        self.group_col = group_col

    def _decode(self, d: dict | None) -> dict:
        """{group_value: kernel} — group values in their original type
        (the grouped protocol casts back on output); None = NULL group."""
        if d is None:
            return {}
        cls, _ = _KINDS[self.kind]
        return {_untag_key(t): cls.from_bytes(b) for t, b in d["entries"]}

    def _merge_batch(self, batch_df: DataFrame, cur: dict):
        from ..sketch.udaf import grouped_aggregate_sketch

        cls, _build = _KINDS[self.kind]
        partial_rows = grouped_aggregate_sketch(
            batch_df, self.group_col, self.col, lambda: self._make(cls), cls,
        ).collect()
        for r in partial_rows:
            part = cls.from_bytes(bytes(r["blob"]))
            g = r["g"]
            merged = part if g not in cur else cls.merge(cur[g], part)
            self._compact_if_mg(self.kind, merged)
            cur[g] = merged
        return ([(g, k.to_bytes()) for g, k in cur.items()],
                {"group_col": self.group_col, "n_groups": len(cur)})

    def _make(self, cls):
        if self.kind == "cms":  # CMS sizes from (eps, delta), not (width, depth)
            return cls.create(**self.params)
        return cls(**self.params) if self.params else cls()


def migrate_legacy_pickle_state(state_dir: str) -> str:
    """One-time upgrade of a pre-envelope ``state.pkl`` directory.

    Explicitly opt-in because it pickle-loads the legacy file — run it
    only on state directories you wrote yourself (the trust the old
    format always required). Converts to state.bin and renames the
    legacy file to state.pkl.migrated; returns the new state path."""
    import pickle

    pkl = os.path.join(state_dir, "state.pkl")
    with open(pkl, "rb") as f:
        d = pickle.load(f)
    if "blob" in d:
        entries = [(None, d["blob"])]
    else:
        entries = [(g, b) for g, b in d["groups"].items()]
    meta = {}
    try:
        with open(os.path.join(state_dir, "state.json")) as f:
            meta = json.load(f)
    except OSError:
        pass
    kind = meta.get("kind")
    if kind not in _KINDS:
        raise ValueError(
            f"cannot infer sketch kind from {state_dir}/state.json; "
            "refusing to migrate blind")
    st = _SketchStateBase(state_dir, kind, meta.get("col", ""))
    # commit FIRST, rename after: if the commit raises (disk full,
    # unconvertible group key) the legacy file must survive so the
    # _legacy_check guard still fires instead of silently reporting a
    # fresh directory (= the exact state loss the guard exists for);
    # _commit never reads the legacy file, so order is free
    st._commit(entries, int(d["batch_id"]), migrated_from="state.pkl")
    os.rename(pkl, pkl + ".migrated")
    return st._state_path()


def tumbling_window_col(ts_col, duration: str):
    """Event-time tumbling-window key for windowed sketch rollups:
    the window START as epoch seconds (a long Column, whole-stage
    codegen, no Python — integer group keys keep their type through the
    grouped protocol).  Use as the ``group_col`` of a
    ``GroupedStreamingSketchState`` to keep one mergeable sketch per
    event-time window over an unbounded stream.

    Late data needs no watermark for CORRECTNESS here — unlike a
    row-holding streaming aggregation, a late row just merges into its
    window's sketch (merge is associative + commutative, the
    exactly-once batch-id guard still applies), and per-window state is
    bits/item-bounded rather than row-bounded.  A watermark remains the
    EVICTION policy at scale: drop window entries older than the
    watermark from the state dict when windows must eventually retire.
    """
    from pyspark.sql import functions as F

    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.window(c, duration).getField("start").cast("long")

