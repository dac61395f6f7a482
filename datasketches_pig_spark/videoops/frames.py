"""Video frame operators.

Videos are opaque ``binary`` columns with typed metadata (codec, fps, width,
height, n_frames).  Two codecs are fully implemented in-numpy:

* ``rawrgb``    — concatenated headerless uint8 RGB frames (n_frames × H×W×3).
* ``mjpeg_avi`` — Motion-JPEG in an AVI/RIFF container (`mjpeg.py`): the
                  first *compressed* video codec, every frame an independent
                  baseline JPEG decoded by `imageops/jpeg.py`.

Inter-frame-predicted codecs (h264/vp9/av1/…) are stubs raising
``NotImplementedError`` — the Spark-side plumbing (frame-sample fan-out
schema, Arrow batch shape, per-frame feature rows) is identical, so wiring
PyAV/ffmpeg on a real cluster is a local change here.

``frame_sample_stage`` is the scale-shaping operator: a video row fans out
to ceil(n_frames / stride) frame rows *inside* the kernel — raw pixel data
never shuffles; only per-frame dHash/feature rows (~50 B) leave the pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datasketches_pig_spark.imageops.codecs import dhash64, to_gray

STUB_CODECS = ("h264", "h265", "vp9", "av1", "mpeg4")

FRAME_SCHEMA = (
    "video_id long, frame_idx int, dhash long, mean_gray double, std_gray double"
)


def decode_frames(
    blob: bytes,
    codec: str,
    width: int,
    height: int,
    decoders: dict | None = None,
) -> np.ndarray:
    """binary → (n_frames, H, W, 3) uint8.

    ``decoders`` is an external-decoder table (codec tag → callable, see
    ``datasketches_pig_spark/decoders.py``) consulted before the stub raise;
    Spark kernels pass the plan-build-time registry snapshot, ``None`` reads
    the live process-local registry."""
    if codec == "rawrgb":
        arr = np.frombuffer(blob, dtype=np.uint8)
        frame_sz = width * height * 3
        if len(arr) % frame_sz:
            raise ValueError("rawrgb payload is not a whole number of frames")
        return arr.reshape(-1, height, width, 3)
    if codec == "mjpeg_avi":
        from datasketches_pig_spark.videoops.mjpeg import mjpeg_decode

        frames = mjpeg_decode(blob)
        if frames.shape[1:3] != (height, width):
            raise ValueError(
                f"dim mismatch: container {frames.shape[1:3]} "
                f"metadata {(height, width)}"
            )
        return frames
    if codec == "gif_anim":
        from datasketches_pig_spark.imageops.gif import gif_decode_frames

        frames = gif_decode_frames(blob)
        if frames.shape[1:3] != (height, width):
            raise ValueError(
                f"dim mismatch: container {frames.shape[1:3]} "
                f"metadata {(height, width)}"
            )
        return frames
    from datasketches_pig_spark import decoders as _reg

    table = decoders if decoders is not None else _reg.video_decoder_snapshot()
    fn = table.get(codec)
    if fn is not None:
        frames = _reg.validate_frames(fn(blob, width, height), codec)
        if frames.shape[1:3] != (height, width):
            raise ValueError(
                f"registered decoder for '{codec}' returned frames "
                f"{frames.shape[1:3]}, metadata says {(height, width)}"
            )
        return frames
    if codec in STUB_CODECS:
        raise NotImplementedError(
            f"video codec '{codec}' needs an external decoder: register one "
            "with datasketches_pig_spark.decoders.register_video_decoder("
            f"'{codec}', fn) before building the pipeline"
        )
    raise ValueError(f"unknown video codec {codec!r}")


def frame_sample_stage(videos: DataFrame, stride: int = 5) -> DataFrame:
    """(video_id, bytes, codec, width, height) → one row per sampled frame
    (every ``stride``-th frame) with perceptual dHash + luma stats."""
    if stride < 1:
        raise ValueError("stride must be >= 1")
    from datasketches_pig_spark.decoders import video_decoder_snapshot

    ext = video_decoder_snapshot()  # plan-build-time capture → executors

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("video_id", "frame_idx", "dhash", "mean_gray", "std_gray")}
            for row in pdf.itertuples(index=False):
                frames = decode_frames(
                    bytes(row.bytes), row.codec, row.width, row.height,
                    decoders=ext,
                )
                for idx in range(0, len(frames), stride):
                    g = to_gray(frames[idx])
                    dh = dhash64(frames[idx])
                    out["video_id"].append(int(row.video_id))
                    out["frame_idx"].append(idx)
                    out["dhash"].append(dh - (1 << 64) if dh >= (1 << 63) else dh)
                    out["mean_gray"].append(float(g.mean()))
                    out["std_gray"].append(float(g.std()))
            yield pd.DataFrame(out)

    cols = ["video_id", "bytes", "codec", "width", "height"]
    return videos.select(*cols).mapInPandas(run, schema=FRAME_SCHEMA)


def video_near_pairs(
    videos: DataFrame,
    stride: int = 5,
    max_hamming: int = 3,
    min_shared_frames: int = 2,
) -> DataFrame:
    """Near-duplicate video pairs: sampled-frame dHashes bucket by exact
    64-bit value (a near-dup pair of videos shares many visually-identical
    sampled frames), pairs scored by the count of matching frame hashes.
    Salted bucket expansion — a viral still-frame shared by millions of
    videos star-links instead of exploding."""
    from datasketches_pig_spark.operators.lsh import bucket_pairs

    frames = frame_sample_stage(videos, stride)
    keyed = frames.select(F.col("dhash").alias("fkey"), F.col("video_id").alias("vid"))
    pairs = bucket_pairs(keyed.distinct(), "fkey", "vid", cap=64)
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared_frames)
    )
