"""Image feature / near-dup operators — Arrow-batched, decode never leaves
the kernel (same fused-pass design as the audio signature stage:
``operators/stages.py:75``).

Input table shape: (image_id: long, bytes: binary, fmt: string,
width: int, height: int).  The raw pixels never shuffle — only the
~100-byte feature/fingerprint rows leave the Arrow pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datasketches_pig_spark.imageops.codecs import decode_image, dhash64, to_gray

FEATURE_SCHEMA = (
    "image_id long, dhash long, mean_r double, mean_g double, mean_b double, "
    "std_gray double, aspect double"
)


def image_feature_stage(images: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt, width, height) → per-image features + 64-bit
    dHash, one fused Arrow pass."""
    from datasketches_pig_spark.decoders import image_decoder_snapshot

    ext = image_decoder_snapshot()  # plan-build-time capture → executors

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("image_id", "dhash", "mean_r", "mean_g", "mean_b", "std_gray", "aspect")}
            for row in pdf.itertuples(index=False):
                img = decode_image(
                    bytes(row.bytes), row.fmt, row.width, row.height, decoders=ext
                )
                g = to_gray(img)
                out["image_id"].append(int(row.image_id))
                dh = dhash64(img)
                out["dhash"].append(dh - (1 << 64) if dh >= (1 << 63) else dh)
                out["mean_r"].append(float(img[..., 0].mean()))
                out["mean_g"].append(float(img[..., 1].mean()))
                out["mean_b"].append(float(img[..., 2].mean()))
                out["std_gray"].append(float(g.std()))
                out["aspect"].append(float(row.width) / float(row.height))
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes", "fmt", "width", "height"]
    return images.select(*cols).mapInPandas(run, schema=FEATURE_SCHEMA)


def image_near_pairs(
    images: DataFrame, max_hamming: int = 3, bucket_cap: int = 256
) -> DataFrame:
    """Near-duplicate image pairs via dHash + the Manku banded join: the
    shared ``operators.lsh.hamming_near_pairs`` candidate path (complete
    for Hamming ≤ max_hamming while no band bucket exceeds the cap,
    JVM-side ``bit_count(xor)`` verify).  The C(h+3,3) combo keys are ONE
    ``transform`` expression (``simhash_combo_key_array`` — not 35
    codegen'd trees at h=4)."""
    from datasketches_pig_spark.operators.lsh import (
        hamming_near_pairs,
        simhash_combo_key_array,
    )

    sigs = image_feature_stage(images).select(
        F.col("image_id").alias("id"), F.col("dhash").alias("simhash")
    ).localCheckpoint()
    keys = simhash_combo_key_array(F.col("simhash"), max_hamming)
    return hamming_near_pairs(sigs, keys, max_hamming, bucket_cap)
