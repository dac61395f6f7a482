"""Shingling — transcript byte k-grams and PCM-derived feature-stream k-grams.

Everything here is vectorized numpy over Arrow batches; the per-clip Python is
bookkeeping only (offsets into concatenated arrays), mirroring the reference's
rule that values are hashed from their canonical byte representation with
MurmurHash3 seed 9001 (``pig/theta/DataToSketch.java:184-187``,
``dictionary.html:48-52``).  Each producer returns one flat shingle-set batch
``(values, counts)``, the form ``operators/signatures.py`` documents.

Audio features are designed to be invariant to the perturbation classes the
dup model defines (FIXTURES.md F1): peak-relative log-energy (gain ±1 dB and
µ-law re-encode safe), quarter-octave zero-crossing pitch levels (codec safe),
25 ms frames at 10 ms hop (pad/trim ≤ 50 ms only perturbs edge frames).
"""

from __future__ import annotations

import re

import numpy as np

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.functions.murmur3 import (
    murmur3_x64_128,
    murmur3_x64_128_fixed,
)
from datasketches_pig_spark.operators.signatures import segment_distinct

_WS = re.compile(r"\s+")


def normalize_text(s: str) -> str:
    return _WS.sub(" ", s.strip().lower())


def text_shingle_hashes(
    texts: list[str | None], cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray]:
    """Per text: uint64 hashes of its distinct byte k-grams (k=shingle_k_text),
    as one flat shingle-set batch ``(values, counts)`` (the form
    ``operators/signatures.py`` documents).

    All k-grams across the batch are hashed in one fixed-length vectorized
    murmur call.  A text shorter than k contributes one whole-string shingle,
    in its own segment; ``None`` and empty texts contribute none.
    """
    k = cfg.shingle_k_text
    bufs: list[np.ndarray] = []
    counts = np.zeros(len(texts), dtype=np.int64)
    short = np.zeros(len(texts), dtype=bool)
    short_h: list[int] = []
    for i, t in enumerate(texts):
        if t is None:
            continue
        raw = np.frombuffer(normalize_text(t).encode("utf-8"), dtype=np.uint8)
        if len(raw) == 0:
            continue
        if len(raw) < k:
            short[i] = True
            short_h.append(murmur3_x64_128(raw.tobytes(), cfg.seed)[0])
            counts[i] = 1
            continue
        # stride-trick window view → (n, k) grams
        grams = np.lib.stride_tricks.sliding_window_view(raw, k)
        bufs.append(grams)
        counts[i] = len(raw) - k + 1

    values = np.empty(int(counts.sum()), dtype=np.uint64)
    at_short = np.repeat(short, counts)
    values[at_short] = short_h
    if bufs:
        h1, _ = murmur3_x64_128_fixed(
            np.ascontiguousarray(np.concatenate(bufs, axis=0)), cfg.seed
        )
        values[~at_short] = h1
    return segment_distinct(values, counts)


# ---------------------------------------------------------------------------
# audio feature stream
# ---------------------------------------------------------------------------

def frame_energy(pcm: np.ndarray, frame: int, hop: int) -> np.ndarray:
    """Mean-square energy (float64) of each ``frame``-sample window at stride
    ``hop`` (``len(pcm) >= frame``), without gathering the windows: the
    strided view hands ``mean`` the same values in the same order as a
    gathered (n_frames × frame) row, so the result is bit-identical to it."""
    sq = pcm.astype(np.float64) ** 2
    return np.lib.stride_tricks.sliding_window_view(sq, frame)[::hop].mean(axis=1)


def frame_symbols(pcm: np.ndarray, sr_hz: int, cfg: DedupConfig) -> np.ndarray:
    """PCM float32 → uint8 symbol stream (one symbol per 10 ms frame).

    symbol = pitch_level * 4 + energy_level
      pitch_level  : quarter-octave quantized frequency (0..23) from the
                     *interpolated* zero-crossing estimate — crossing count
                     minus one over the first→last crossing span, which is
                     phase-invariant (plain ZCR jitters ±1 crossing with frame
                     phase, a full quantization level at low frequencies)
      energy_level : peak-relative log-energy in 6 dB steps (0..3, 0 = peak)
                     → gain-invariant

    O(n) in the clip length: frames are never gathered into an
    (n_frames × frame) matrix.  Energy comes from ``frame_energy`` (the same
    summation order as a gathered row, so the same bits; a prefix-sum energy
    is not bit-identical), and crossing count, first and last crossing from
    one sorted array of crossing positions by ``searchsorted`` (exact
    integers).
    """
    frame = max(int(sr_hz * cfg.audio_frame_ms / 1000), 4)
    hop = max(int(sr_hz * cfg.audio_hop_ms / 1000), 1)
    n = len(pcm)
    if n < frame:
        pcm = np.pad(pcm, (0, frame - n))
        n = frame
    start = hop * np.arange(1 + (n - frame) // hop)

    log_e = np.log10(frame_energy(pcm, frame, hop) + 1e-12)
    e_rel = log_e - log_e.max()  # peak-relative → gain-invariant
    e_level = np.clip(np.round(-e_rel / 0.6), 0, 3).astype(np.uint8)  # 6 dB steps

    # crossing p lies between samples p and p+1; frame j owns p in
    # [start_j, start_j + frame - 2]
    signs = pcm >= 0.0
    cross = np.flatnonzero(signs[1:] != signs[:-1])
    lo = np.searchsorted(cross, start)
    hi = np.searchsorted(cross, start + (frame - 1))
    n_cross = hi - lo
    # the appended 0 keeps hi - 1 == -1 and lo == len(cross) in bounds; such
    # frames have n_cross < 2, where freq is 0 and span is unused
    pad = np.append(cross, 0)
    span = np.maximum(pad[hi - 1] - pad[lo], 1)
    freq = np.where(n_cross >= 2, (n_cross - 1) * sr_hz / (2.0 * span), 0.0)
    pitch = np.clip(
        np.round(4.0 * np.log2(np.maximum(freq, 1.0) / 110.0)), 0, 23
    ).astype(np.uint8)
    return pitch * np.uint8(4) + e_level


def audio_symbols(pcm: np.ndarray, sr_hz: int, cfg: DedupConfig) -> np.ndarray:
    """PCM → run-length-encoded *note* symbols.

    Frame symbols are fragile exactly at note boundaries (frames straddling a
    transition), and those transitional k-grams dominate the distinct-shingle
    set.  Run-length encoding with a minimum run keeps only stable note
    symbols: runs shorter than ``audio_min_run`` frames are dropped, adjacent
    equal symbols then merge.  Pad/trim ≤ 50 ms shifts run lengths by a frame
    or two but leaves the note-symbol *sequence* intact — which is what gets
    shingled.
    """
    sym = frame_symbols(pcm, sr_hz, cfg)
    if len(sym) == 0:
        return sym
    change = np.flatnonzero(np.diff(sym.astype(np.int16)) != 0)
    starts = np.concatenate([[0], change + 1])
    ends = np.concatenate([change + 1, [len(sym)]])
    lengths = ends - starts
    keep = lengths >= cfg.audio_min_run
    runs = sym[starts[keep]]
    if len(runs) == 0:
        return runs
    # merge adjacent equal symbols exposed by dropped short runs
    dedup = np.concatenate([[True], runs[1:] != runs[:-1]])
    return runs[dedup]


def audio_shingle_hashes(
    pcms: list[np.ndarray | None], srs: list[int], cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray]:
    """Per clip: uint64 hashes of the distinct k-grams of its symbol stream,
    as one flat shingle-set batch ``(values, counts)``; a missing or empty
    clip contributes none."""
    k = cfg.shingle_k_audio
    bufs: list[np.ndarray] = []
    counts = np.zeros(len(pcms), dtype=np.int64)
    for i, pcm in enumerate(pcms):
        if pcm is None or len(pcm) == 0:
            continue
        sym = audio_symbols(pcm, int(srs[i]), cfg)
        if len(sym) < k:
            sym = np.pad(sym, (0, k - len(sym)))
        grams = np.lib.stride_tricks.sliding_window_view(sym, k)
        bufs.append(grams)
        counts[i] = grams.shape[0]

    if not bufs:
        return np.empty(0, dtype=np.uint64), counts
    h1, _ = murmur3_x64_128_fixed(
        np.ascontiguousarray(np.concatenate(bufs, axis=0)), cfg.seed
    )
    return segment_distinct(h1, counts)
