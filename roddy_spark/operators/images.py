"""Image payload operators (SURVEY.md §2.7, input_hint) — decode, validate,
perceptual-hash, and near-duplicate detection over the image+caption corpus.

All stages are Arrow-batched ``mapInPandas``/pandas UDFs over the ``binary``
column (the north rule: no per-row Python UDFs); the decoder is
per-partition state, mirroring the reference's pooled browser/decoder
(botpool.go:9-70 → executor task slots + lazy per-partition init). The
actual pixel codecs live in sources/codecs.py (real PNG; clearly-marked
lossy stand-in when PIL is absent).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from roddy_spark.operators.textdedup import hamming_pairs
from roddy_spark.sources import codecs

DECODE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("fmt", StringType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("decoded_w", IntegerType()),
    StructField("decoded_h", IntegerType()),
    StructField("dims_ok", BooleanType()),
    StructField("phash", LongType()),
    StructField("phash_recomputed", LongType()),
    StructField("phash_ok", BooleanType()),
    StructField("mean_luma", DoubleType()),
    StructField("decode_error", StringType()),
])


def decode_validate(corpus: DataFrame) -> DataFrame:
    """Decode every image, validate the stored (w, h) and recompute the
    perceptual hash — the engine-side half of the input_hint per-row
    invariant (the PSNR-vs-generator half needs generator pixels and lives
    in tests). Column-pruned input: only the needed columns are read from
    parquet (bytes/w/h/fmt/phash), never caption."""
    cols = ["image_id", "bytes", "w", "h", "fmt", "phash"]

    def run(batches):
        for pdf in batches:
            out = []
            # column-zip iteration, not iterrows(): per-row Series
            # construction costs 10-50x the loop body's bookkeeping
            for image_id, buf, w, h, fmt, phash in zip(
                    pdf["image_id"].to_list(), pdf["bytes"].to_list(),
                    pdf["w"].to_list(), pdf["h"].to_list(),
                    pdf["fmt"].to_list(), pdf["phash"].to_list()):
                rec = {"image_id": image_id, "fmt": fmt,
                       "w": int(w), "h": int(h),
                       "decoded_w": None, "decoded_h": None,
                       "dims_ok": False, "phash": int(phash),
                       "phash_recomputed": None, "phash_ok": False,
                       "mean_luma": None, "decode_error": None}
                try:
                    px = codecs.decode_image(bytes(buf))
                    rec["decoded_h"], rec["decoded_w"] = int(px.shape[0]), int(px.shape[1])
                    rec["dims_ok"] = (rec["decoded_w"] == rec["w"]
                                      and rec["decoded_h"] == rec["h"])
                    ph = codecs.phash64(px)
                    rec["phash_recomputed"] = ph
                    # lossy decode may flip a few borderline DCT bits
                    rec["phash_ok"] = codecs.hamming64(
                        ph, int(phash)) <= 4
                    rec["mean_luma"] = float(px.mean())
                except NotImplementedError as e:
                    rec["decode_error"] = f"stubbed: {e}"
                except Exception as e:  # corrupt payloads must not kill jobs
                    rec["decode_error"] = str(e)[:200]
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in DECODE_SCHEMA])

    return corpus.select(*cols).mapInPandas(run, DECODE_SCHEMA)


def phash_near_duplicates(corpus: DataFrame,
                          max_hamming: int = 8) -> DataFrame:
    """Near-duplicate image pairs (a, b, hamming) by perceptual hash, at
    scale: ``hamming_pairs`` over four 16-bit bands of the 64-bit phash.
    Candidate pairs come from an equi-join on (band_idx, band_value) — a
    shuffle hash join, NOT an O(n²) cross join — then exact hamming
    verification JVM-side via bit_count(xor). A pair within
    ``max_hamming`` shares a band with high probability, and always when
    max_hamming < 4 (pigeonhole).
    """
    return (hamming_pairs(corpus, "image_id", "phash", 16, 4, max_hamming)
            .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"),
                    "hamming"))


def join_page_images(extractions: DataFrame, corpus: DataFrame) -> DataFrame:
    """(page, image_id) pairs from extracted <img src> refs joined to the
    corpus — the crawl's payload materialization (url, caption, phash).
    The corpus side is the big table; the join key is image_id (src path
    carries it: /img/<image_id>.png)."""
    refs = (extractions
            .select("url_norm", "depth", "seq",
                    F.explode("images").alias("img"))
            .withColumn("image_id",
                        F.regexp_extract(F.col("img.src"),
                                         r"/img/(img\d+)\.png", 1))
            .filter(F.col("image_id") != ""))
    return (refs.join(corpus.select("image_id", "caption", "phash", "w", "h"),
                      "image_id", "left")
            .select("url_norm", "depth", "seq", "image_id", "caption",
                    "phash", "w", "h"))
