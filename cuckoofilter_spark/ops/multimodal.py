"""Multimodal columns: opaque binary payloads + typed metadata.

Training-data pipelines carry image/audio/video as ``binary`` columns
next to typed metadata; the Spark-side contract is:

- schema: ``(media_id string, kind string, payload binary,
  meta struct<width int, height int, channels int, sample_rate int,
  duration_ms int, codec string>)``;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages (one Python round-trip per partition, never
  per row), emitting either new payload columns or exploded frame rows;
- partitioning: payloads are large, so stages preserve the input
  partitioning and never shuffle payload bytes — only derived features
  (small arrays) flow into joins/aggregations downstream.

REAL codecs (JPEG/PNG/Opus/H.264) are NOT available in this
environment. The codec boundary is explicit: payloads with codec
``fake`` carry a deterministic self-describing container (magic
``FMED`` + header + splitmix64-generated samples — pure function of
media_id, so two engines materialize byte-identical media) and decode
with real numpy plumbing; any other codec raises NotImplementedError at
the same call site a real decoder would plug into. Everything around
the stub — schema, batch shape, UDF signatures, resize math, frame
sampling arithmetic — is real and tested.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels.hashing import U64, splitmix64
from ..sketch.udaf import worker_prologue

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, channels:int, sample_rate:int, "
    "duration_ms:int, codec:string>"
)

_MAGIC = b"FMED"
_HDR = "<4sBBHHHII"  # magic ver kind(0=img,1=aud,2=vid) w h c sr dur_ms
_KINDS = ["image", "audio", "video"]


def _payload_bytes(media_idx: int, n: int) -> np.ndarray:
    """Deterministic pseudo-content: splitmix64 stream of (media, pos)."""
    base = U64((media_idx + 1) * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF)
    words = splitmix64(np.arange((n + 7) // 8, dtype=np.uint64) + base)
    return words.view(np.uint8)[:n]


def encode_fake(kind: int, media_idx: int, w: int, h: int, c: int,
                sr: int, dur_ms: int) -> bytes:
    if kind == 0:
        body_len = w * h * c
    elif kind == 1:
        body_len = sr * dur_ms // 1000
    else:
        fps = 4
        body_len = w * h * c * (dur_ms * fps // 1000)
    hdr = struct.pack(_HDR, _MAGIC, 1, kind, w, h, c, sr, dur_ms)
    return hdr + _payload_bytes(media_idx, body_len).tobytes()


def decode_payload(payload: bytes) -> tuple[dict, np.ndarray]:
    """Codec boundary. Returns (header dict, raw sample array).

    This is where a real decoder (PIL/ffmpeg/soundfile) would plug in;
    non-fake codecs raise exactly here.
    """
    if payload[:4] != _MAGIC:
        raise NotImplementedError(
            "real media codecs are not available in this environment; "
            "only the deterministic 'fake' container decodes")
    magic, ver, kind, w, h, c, sr, dur = struct.unpack_from(_HDR, payload)
    body = np.frombuffer(payload, dtype=np.uint8, offset=struct.calcsize(_HDR))
    return ({"kind": _KINDS[kind], "width": w, "height": h, "channels": c,
             "sample_rate": sr, "duration_ms": dur}, body)


def _md5_le64_py(s: str) -> int:
    """Python twin of ops.text.md5_le64 / DuckDB md5_number_upper."""
    import hashlib
    import struct as _struct

    return _struct.unpack("<Q", hashlib.md5(s.encode()).digest()[:8])[0]


def media_table(spark: SparkSession, num_media: int, seed: int = 42,
                partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic media table (schema above), distributed
    generation via mapInPandas — same shape as sources/tokens.py.

    kind/dimensions derive from the cross-engine md5-LE64 hash of the
    media id (== DuckDB ``md5_number_upper``), so payload byte counts
    are restatable in a SQL oracle; payload CONTENT stays a splitmix64
    stream (only its length is oracled)."""
    rng = spark.range(0, num_media, numPartitions=partitions) if partitions \
        else spark.range(num_media)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prologue()
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for i in pdf["id"].to_numpy():
                mid = f"media{int(i):010d}"
                k = _md5_le64_py(f"{mid}#kind{seed}") % 3
                hh = _md5_le64_py(f"{mid}#dim{seed}")
                w = 16 + (hh & 0x1F)
                ht = 16 + ((hh >> 5) & 0x1F)
                c = 3
                sr = 8000
                dur = 250 + ((hh >> 10) & 0x3FF)
                rows["media_id"].append(mid)
                rows["kind"].append(_KINDS[int(k)])
                rows["payload"].append(encode_fake(int(k), int(i), w, ht, c, sr, dur))
                rows["meta"].append({"width": w, "height": ht, "channels": c,
                                     "sample_rate": sr, "duration_ms": dur,
                                     "codec": "fake"})
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, schema=MEDIA_SCHEMA)


FEATURE_SCHEMA = "media_id string, kind string, n_bytes long, features array<double>"


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + per-media feature vector (mean/std/quartiles of samples,
    per channel for images) — one Arrow pass, payloads never shuffled."""
    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prologue()
        for pdf in batches:
            out = {"media_id": [], "kind": [], "n_bytes": [], "features": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                hdr, body = decode_payload(bytes(payload))
                x = body.astype(np.float64)
                if hdr["kind"] == "image" and x.size:
                    px = x[: (x.size // hdr["channels"]) * hdr["channels"]]
                    ch = px.reshape(-1, hdr["channels"])
                    f = np.concatenate([ch.mean(axis=0), ch.std(axis=0)])
                else:
                    f = np.array([x.mean(), x.std(),
                                  np.percentile(x, 25), np.percentile(x, 75)]) \
                        if x.size else np.zeros(4)
                out["media_id"].append(mid)
                out["kind"].append(hdr["kind"])
                out["n_bytes"].append(len(payload))
                out["features"].append(np.round(f, 6))
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(feats, FEATURE_SCHEMA)


def resize_images(df: DataFrame, new_w: int, new_h: int) -> DataFrame:
    """Nearest-neighbor resize of image payloads; non-images pass through.
    Output schema == input schema (payload + meta rewritten)."""
    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prologue()
        for pdf in batches:
            pays, metas = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                hdr, body = decode_payload(bytes(payload))
                if hdr["kind"] != "image":
                    pays.append(bytes(payload))
                    metas.append(meta)
                    continue
                w, h, c = hdr["width"], hdr["height"], hdr["channels"]
                img = body[: w * h * c].reshape(h, w, c)
                yi = (np.arange(new_h) * h // new_h)
                xi = (np.arange(new_w) * w // new_w)
                resized = img[yi][:, xi]
                new_hdr = struct.pack(_HDR, _MAGIC, 1, 0, new_w, new_h, c,
                                      hdr["sample_rate"], hdr["duration_ms"])
                pays.append(new_hdr + resized.tobytes())
                m = dict(meta)
                m["width"], m["height"] = new_w, new_h
                metas.append(m)
            out = pdf.copy()
            out["payload"] = pays
            out["meta"] = metas
            yield out

    return df.mapInPandas(rz, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = "media_id string, frame_idx int, ts_ms int, frame binary"


def sample_video_frames(df: DataFrame, every_ms: int = 500) -> DataFrame:
    """Explode videos into sampled frame rows (frame = raw w*h*c bytes).

    The fake container stores frames at 4 fps; sampling picks the frame
    whose timestamp floor-matches each every_ms tick — the same
    arithmetic a real ffmpeg-backed sampler would use.
    """
    fps = 4

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prologue()
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "ts_ms": [], "frame": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                hdr, body = decode_payload(bytes(payload))
                if hdr["kind"] != "video":
                    continue
                w, h, c = hdr["width"], hdr["height"], hdr["channels"]
                fbytes = w * h * c
                n_frames = body.size // fbytes if fbytes else 0
                for ts in range(0, hdr["duration_ms"], every_ms):
                    fi = min(ts * fps // 1000, max(n_frames - 1, 0))
                    if n_frames == 0:
                        continue
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["ts_ms"].append(ts)
                    out["frame"].append(body[fi * fbytes:(fi + 1) * fbytes].tobytes())
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(frames, FRAME_SCHEMA)
