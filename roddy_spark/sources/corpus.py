"""Deterministic image+caption corpus generator (FIXTURES.md §1).

Schema is exactly the input_hint:
  image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
  caption:string, phash:int64

Generation is *distributed and order-independent*: each row is a pure
function of (seed, i), produced by ``mapInPandas`` over ``spark.range`` so
the same generator scales from 100 rows (tests) to bench scale without a
driver-side loop. PNG rows are losslessly decodable; "jpeg" rows use the
real codec when PIL exists, else the clearly-marked FJPG stand-in
(codecs.py) — either way the per-row invariant holds: decode(bytes) vs the
generator's pixel array is exact for png and PSNR ≥ 40 dB for lossy, and
caption is byte-equal.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from roddy_spark.sources import codecs

CORPUS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("fmt", StringType()),
    StructField("caption", StringType()),
    StructField("phash", LongType()),
])

_WORDS = ("spark frontier crawl image caption vector pixel shard batch "
          "arrow parquet bloom cuckoo depth host link page fetch queue").split()


def gen_pixels(seed: int, i: int) -> np.ndarray:
    """Pure function (seed, i) → HxWx3 uint8 procedural image."""
    rng = np.random.default_rng(np.uint64(seed * 1_000_003 + i))
    w = int(rng.integers(16, 65))
    h = int(rng.integers(16, 65))
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    g = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    b = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    return np.stack([r, g, b], axis=-1)


def gen_caption(seed: int, i: int) -> str:
    rng = np.random.default_rng(np.uint64(seed * 7_000_003 + i))
    words = [_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), size=8)]
    return f"img{i:08d}: " + " ".join(words) + " — ünïcødé ✓"


def gen_row(seed: int, i: int) -> dict:
    pixels = gen_pixels(seed, i)
    caption = gen_caption(seed, i)
    if i % 2 == 0:
        data, fmt = codecs.encode_png(pixels), "png"
    else:
        data, fmt = codecs.encode_lossy(pixels), "jpeg"
    return {
        "image_id": f"img{i:08d}",
        "bytes": data,
        "w": int(pixels.shape[1]),
        "h": int(pixels.shape[0]),
        "fmt": fmt,
        "caption": caption,
        "phash": codecs.phash64(codecs.decode_image(data)),
    }


def corpus_df(spark: SparkSession, n: int, seed: int = 42,
              partitions: int | None = None) -> DataFrame:
    """Distributed corpus of ``n`` rows. Each partition generates its slice
    independently (no shuffle, no driver loop)."""
    parts = partitions or max(1, min(n // 64 + 1, 64))

    def gen(batches):
        for pdf in batches:
            rows = [gen_row(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, parts).mapInPandas(gen, CORPUS_SCHEMA)
