"""Spark-facing pipeline stages (Arrow-batched ``mapInPandas`` operators).

Stage contract at scale: each stage is a *narrow* transformation per clip —
decode, shingle and sign happen in a single pass so decoded PCM never crosses
a stage/shuffle boundary.  Only fixed-size artifacts (signatures, sketches,
fingerprints) leave the pass, mirroring the reference's rule that the only IR
crossing the wire is the compact serialized sketch (``pig/theta/PigUtil.java:46-60``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

import hashlib

from datasketches_pig_spark.audioops.codecs import decode_clip, dur_ms_batch
from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.decoders import audio_decoder_snapshot
from datasketches_pig_spark.operators.shingle import (
    audio_shingle_hashes,
    text_shingle_hashes,
)
from datasketches_pig_spark.operators.signatures import (
    band_hashes,
    kmv_prefixes,
    minhash_signatures,
    simhash64,
)

DECODE_SCHEMA = "clip_id string, pcm binary, sr_hz int, n_samples int, transcript string"

SIGNATURE_SCHEMA = (
    "clip_id string, "
    "exact_key long, "
    "text_bands array<long>, text_kmv array<long>, text_simhash long, n_text_shingles int, "
    "audio_bands array<long>, audio_kmv array<long>, audio_simhash long, n_audio_shingles int, "
    "dur_ms int"
)


def _band_seed(cfg: DedupConfig, modality: str) -> int:
    return cfg.seed + (1_000_003 if modality == "audio" else 0)


def decode_stage(clips: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Standalone decode operator: clips → float32 PCM (little-endian bytes).

    Used by the per-row invariant tests (SNR ≥ 30 dB, transcript equality);
    the production signature path fuses decoding into ``signature_stage`` so
    PCM is never materialized.
    """
    ext = audio_decoder_snapshot()  # plan-build-time capture → executors

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pcms = [
                decode_clip(b, c, int(s), decoders=ext, dur_ms=d).astype("<f4").tobytes()
                for b, c, s, d in zip(
                    pdf["bytes"], pdf["codec"], pdf["sr_hz"], dur_ms_batch(pdf)
                )
            ]
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "pcm": pcms,
                    "sr_hz": pdf["sr_hz"],
                    "n_samples": [len(p) // 4 for p in pcms],
                    "transcript": pdf["transcript"],
                }
            )

    return clips.mapInPandas(run, schema=DECODE_SCHEMA)


def signature_stage(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Fused decode→shingle→sign pass: clips → signatures table.

    Emits per clip: raw-byte exact key (murmur128 h1 of payload), text/audio
    LSH **band keys** (the k-perm MinHash signature is computed here and
    immediately folded into ``band_count`` 64-bit keys — the 128-perm
    signature itself never leaves the pass, 64 longs travel instead of 256),
    bottom-k KMV sketches (the verify payload), SimHash fingerprints, and
    shingle counts.  Transcripts do NOT ride along:
    the only consumer (the borderline substring verifier) joins them back
    from the source table for the tiny set of pairs that need them — at
    production scale that is a column-pruned scan of a small fraction, far
    cheaper than materializing text through every stage boundary.
    """
    ext = audio_decoder_snapshot()  # plan-build-time capture → executors

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield signature_batch(pdf, cfg, ext)

    return clips.mapInPandas(run, schema=SIGNATURE_SCHEMA)


def signature_batch(
    pdf: pd.DataFrame, cfg: DedupConfig, decoders: dict | None
) -> pd.DataFrame:
    """One Arrow batch of ``signature_stage``: clip rows → signature rows.
    Both modalities' shingle sets stay in the flat ``(values, counts)`` form
    from the producer to the MinHash/SimHash/KMV kernels."""
    # --- exact key over raw payload bytes ---
    # blake2b (C speed, GB/s) — the exact-byte fast path only needs a
    # collision-resistant digest, not murmur parity; murmur stays the
    # contract for all shingle/signature hashing
    e1 = np.array(
        [
            int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "little")
            for b in pdf["bytes"]
        ],
        dtype=np.uint64,
    )

    # --- decode + shingles ---
    pcms = [
        decode_clip(b, c, int(s), decoders=decoders, dur_ms=d)
        for b, c, s, d in zip(
            pdf["bytes"], pdf["codec"], pdf["sr_hz"], dur_ms_batch(pdf)
        )
    ]

    out = {"clip_id": pdf["clip_id"].values, "exact_key": e1.view(np.int64)}
    for modality, (values, counts) in (
        ("text", text_shingle_hashes(list(pdf["transcript"]), cfg)),
        ("audio", audio_shingle_hashes(pcms, list(pdf["sr_hz"]), cfg)),
    ):
        mh = minhash_signatures(values, counts, cfg.num_perm, cfg.seed)
        bands = band_hashes(
            mh, cfg.band_count, cfg.rows_per_band, _band_seed(cfg, modality)
        )
        out[f"{modality}_bands"] = list(bands.view(np.int64))
        out[f"{modality}_kmv"] = kmv_prefixes(values, counts, cfg.kmv_k)
        out[f"{modality}_simhash"] = simhash64(values, counts)
        out[f"n_{modality}_shingles"] = counts.astype(np.int32)
    out["dur_ms"] = pdf["dur_ms"].values
    return pd.DataFrame(out)
