"""Multimodal payload operators — image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

What's REAL vs STUBBED in this sandbox (no PIL/ffmpeg/soundfile):
  * image resize + color-histogram features: REAL (numpy + the pure-Python
    PNG/FJPG codecs in sources/codecs.py);
  * audio: REAL decode of a defined raw container (``pcm16``: 16-bit LE
    mono PCM with a tiny header) → duration/RMS/zero-crossing features;
    mp3/ogg/etc decode is STUBBED behind NotImplementedError (clearly
    marked) since no codec library exists here;
  * video: REAL parsing of a defined container (``fvid``: header + length-
    prefixed per-frame images) → frame sampling; mp4/webm decode STUBBED.

The Spark-side plumbing — schemas, batch shapes, per-partition decoder
state, explode of sampled frames — is the production design either way;
swapping the codec functions for PIL/pyav is a per-row change only.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, FloatType,
                               IntegerType, LongType, StringType, StructField,
                               StructType)

from roddy_spark.sources import codecs

_PCM_MAGIC = b"PCM1"
_VID_MAGIC = b"FVID"

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("media_type", StringType()),   # image | audio | video
    StructField("fmt", StringType()),
    StructField("bytes", BinaryType()),
    StructField("meta", StructType([            # typed metadata, not a blob
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ])),
])


# ---------------------------------------------------------------------------
# container codecs (real for the defined formats, stubs for external ones)
# ---------------------------------------------------------------------------

def encode_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """``pcm16`` container: magic + rate + int16 LE mono samples."""
    s16 = np.clip(samples, -1.0, 1.0)
    s16 = (s16 * 32767.0).astype("<i2")
    return _PCM_MAGIC + struct.pack("<I", sample_rate) + s16.tobytes()


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    if data[:4] == _PCM_MAGIC:
        (rate,) = struct.unpack("<I", data[4:8])
        return (np.frombuffer(data[8:], dtype="<i2").astype(np.float64)
                / 32767.0, rate)
    raise NotImplementedError(
        "STUB: compressed-audio decode (mp3/ogg/flac) needs an audio codec "
        "library, absent in this sandbox; only the pcm16 container decodes")


def encode_video(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """``fvid`` container: magic + fps + n + length-prefixed encoded frames
    (each a PNG from the real codec)."""
    out = [_VID_MAGIC, struct.pack("<II", fps, len(frames))]
    for fr in frames:
        payload = codecs.encode_png(fr)
        out.append(struct.pack("<I", len(payload)))
        out.append(payload)
    return b"".join(out)


def decode_video_frames(data: bytes):
    """Yield (frame_idx, HxWx3 pixels) from an fvid container."""
    if data[:4] != _VID_MAGIC:
        raise NotImplementedError(
            "STUB: mp4/webm decode needs ffmpeg/pyav, absent here; only the "
            "fvid container decodes")
    fps, n = struct.unpack("<II", data[4:12])
    pos = 12
    for i in range(n):
        (ln,) = struct.unpack("<I", data[pos:pos + 4])
        pos += 4
        yield i, codecs.decode_png(data[pos:pos + ln])
        pos += ln


def video_fps(data: bytes) -> int:
    return struct.unpack("<II", data[4:12])[0]


# ---------------------------------------------------------------------------
# deterministic generators (seeded; pure function of (seed, i))
# ---------------------------------------------------------------------------

def gen_audio_row(seed: int, i: int) -> dict:
    rng = np.random.default_rng(np.uint64(seed * 11_000_003 + i))
    rate = 8000
    n = int(rng.integers(rate // 2, rate * 2))   # 0.5-2.0 s
    t = np.arange(n) / rate
    freq = float(rng.uniform(100, 1000))
    samples = (0.6 * np.sin(2 * np.pi * freq * t)
               + 0.1 * rng.standard_normal(n))
    data = encode_pcm16(samples, rate)
    return {"media_id": f"aud{i:06d}", "media_type": "audio", "fmt": "pcm16",
            "bytes": data,
            "meta": {"w": None, "h": None, "sample_rate": rate,
                     "n_frames": n, "duration_ms": int(n * 1000 / rate)}}


def gen_video_row(seed: int, i: int) -> dict:
    from roddy_spark.sources.corpus import gen_pixels
    rng = np.random.default_rng(np.uint64(seed * 13_000_003 + i))
    n_frames = int(rng.integers(4, 10))
    base = gen_pixels(seed, i)
    frames = [np.roll(base, shift=3 * f, axis=1) for f in range(n_frames)]
    data = encode_video(frames, fps=10)
    return {"media_id": f"vid{i:06d}", "media_type": "video", "fmt": "fvid",
            "bytes": data,
            "meta": {"w": int(base.shape[1]), "h": int(base.shape[0]),
                     "sample_rate": None, "n_frames": n_frames,
                     "duration_ms": n_frames * 100}}


def media_df(spark: SparkSession, n_audio: int = 16, n_video: int = 8,
             seed: int = 42) -> DataFrame:
    rows = ([gen_audio_row(seed, i) for i in range(n_audio)]
            + [gen_video_row(seed, i) for i in range(n_video)])
    return spark.createDataFrame(pd.DataFrame(rows), MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# operators (mapInPandas; per-partition decoder state)
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
])


def resize_images(corpus: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL image resize (nearest-neighbor via index mapping) → PNG bytes.
    Input: the corpus table (image_id, bytes); decoder is per-partition."""
    def run(batches):
        for pdf in batches:
            out = []
            for image_id, buf in zip(pdf["image_id"].to_list(),
                                     pdf["bytes"].to_list()):
                px = codecs.decode_image(bytes(buf))
                yi = (np.arange(out_h) * px.shape[0]) // out_h
                xi = (np.arange(out_w) * px.shape[1]) // out_w
                small = px[yi][:, xi]
                out.append({"image_id": image_id,
                            "bytes": codecs.encode_png(small),
                            "w": out_w, "h": out_h})
            yield pd.DataFrame(out, columns=[f.name for f in RESIZE_SCHEMA])

    return corpus.select("image_id", "bytes").mapInPandas(run, RESIZE_SCHEMA)


FEATURE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("features", ArrayType(FloatType())),
])


def image_features(corpus: DataFrame, bins_per_channel: int = 4) -> DataFrame:
    """REAL feature extraction: normalized per-channel color histogram
    (3 × bins floats) — the embedding-column producer for the similarity
    operators."""
    def run(batches):
        for pdf in batches:
            out = []
            for image_id, buf in zip(pdf["image_id"].to_list(),
                                     pdf["bytes"].to_list()):
                px = codecs.decode_image(bytes(buf))
                feats = []
                for c in range(3):
                    h, _ = np.histogram(px[:, :, c], bins=bins_per_channel,
                                        range=(0, 256))
                    feats.extend((h / h.sum()).astype(np.float32))
                out.append({"image_id": image_id, "features": feats})
            yield pd.DataFrame(out, columns=["image_id", "features"])

    return corpus.select("image_id", "bytes").mapInPandas(run, FEATURE_SCHEMA)


AUDIO_FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("duration_s", DoubleType()),
    StructField("rms", DoubleType()),
    StructField("zero_crossing_rate", DoubleType()),
    StructField("peak", DoubleType()),
    StructField("decode_error", StringType()),
])


def audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction; external formats surface the stub error as
    a column (jobs must not die on undecodable payloads)."""
    def run(batches):
        for pdf in batches:
            out = []
            for media_id, buf in zip(pdf["media_id"].to_list(),
                                     pdf["bytes"].to_list()):
                rec = {"media_id": media_id, "duration_s": None,
                       "rms": None, "zero_crossing_rate": None,
                       "peak": None, "decode_error": None}
                try:
                    samples, rate = decode_audio(bytes(buf))
                    rec["duration_s"] = round(len(samples) / rate, 4)
                    rec["rms"] = float(np.sqrt(np.mean(samples ** 2)))
                    rec["zero_crossing_rate"] = float(
                        np.mean(np.abs(np.diff(np.signbit(samples)))))
                    rec["peak"] = float(np.abs(samples).max())
                except NotImplementedError as e:
                    rec["decode_error"] = f"stub: {e}"[:120]
                out.append(rec)
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_FEATURE_SCHEMA])

    return (media.filter(media.media_type == "audio")
            .select("media_id", "bytes").mapInPandas(
                run, AUDIO_FEATURE_SCHEMA))


FRAME_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("ts_ms", IntegerType()),
    StructField("png", BinaryType()),
    StructField("phash", LongType()),
])


def video_frame_sample(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling: every k-th frame → one output row (png + phash) —
    the explode-shaped UDTF pattern for video payloads."""
    def run(batches):
        for pdf in batches:
            out = []
            for media_id, buf in zip(pdf["media_id"].to_list(),
                                     pdf["bytes"].to_list()):
                data = bytes(buf)
                fps = video_fps(data)
                for idx, px in decode_video_frames(data):
                    if idx % every_k:
                        continue
                    out.append({"media_id": media_id, "frame_idx": idx,
                                "ts_ms": int(idx * 1000 / fps),
                                "png": codecs.encode_png(px),
                                "phash": codecs.phash64(px)})
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA])

    return (media.filter(media.media_type == "video")
            .select("media_id", "bytes").mapInPandas(run, FRAME_SCHEMA))
