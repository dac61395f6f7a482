"""Generate the VALUES oracle for the `dedup_adpcm` gate query.

Independence argument (same structure as gen_jpeg_oracle.py): the corpus
definition (`data/audio.py` note plans → IMA-ADPCM bytes) is the shared
*input*.  Everything the query computes FROM those bytes is replicated
independently here, scalar-wise, no numpy in the replication path:

- decode: a from-the-public-spec scalar IMA ADPCM decoder (plain Python
  ints) — not ``audioops.adpcm._decode_blocks``;
- features: fresh scalar frame-energy/ZCR quantization + RLE + 2-gram
  hashing below — no imports from ``operators.shingle``;
- pairing: brute-force all-pairs exact Jaccard, not the LSH banded join.

So a pass means the vectorized decoder agrees bit-for-bit with an
independent decoder on every clip, the fused Arrow feature kernel agrees
with a scalar re-derivation, AND the banded candidate generation found
every >= threshold pair the brute-force scan finds.

Fragility guards — the generator REFUSES to emit (rather than emitting an
implementation-dependent oracle) if:
- any quantizer input sits within 1e-6 of a rounding boundary (float
  summation order could then flip a level between numpy and scalar code);
- the scalar symbol stream disagrees with the engine kernel's for any clip;
- the scalar PCM disagrees with the vectorized decoder anywhere;
- any emitted Jaccard sits within 1e-9 of a 6-decimal rounding tie, or
  within 0.02 of the query threshold.

Usage:  python tools/gen_adpcm_oracle.py   (prints the SQL; goes into
``datasketches_pig_spark/generated/oracles_adpcm.py`` under its provenance header)
"""

from __future__ import annotations

import math
import struct
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_CLIPS = 150
THRESHOLD = 0.5  # between the 1/3 background band and the 2/3+ planted band
SEED = 9001

# --- scalar IMA ADPCM decoder (public spec, plain ints) -------------------

_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def scalar_adpcm_decode(blob: bytes) -> tuple[list[float], int]:
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    pos = 12
    sr = balign = spb = nsamp = None
    data = None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            tag, ch, sr, _, balign, bits = struct.unpack("<HHIIHH", body[:16])
            assert tag == 0x11 and ch == 1 and bits == 4
            (spb,) = struct.unpack("<H", body[18:20])
        elif cid == b"fact":
            (nsamp,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    out: list[int] = []
    for off in range(0, len(data) - balign + 1, balign):
        block = data[off : off + balign]
        pred = block[0] | (block[1] << 8)
        if pred >= 0x8000:
            pred -= 0x10000
        index = min(block[2], 88)
        out.append(pred)
        nibbles = []
        for b in block[4:]:
            nibbles.append(b & 0x0F)
            nibbles.append(b >> 4)
        for nib in nibbles[: spb - 1]:
            step = _STEP[index]
            diff = step >> 3
            if nib & 4:
                diff += step
            if nib & 2:
                diff += step >> 1
            if nib & 1:
                diff += step >> 2
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + _INDEX[nib & 7]))
            out.append(pred)
    return out[:nsamp], sr


# --- scalar feature replication (fresh code, no operators.* imports) ------

FRAME_MS, HOP_MS, MIN_RUN, K = 25, 10, 2, 2


class Fragile(RuntimeError):
    pass


def _guard_round(v: float) -> int:
    if abs((v % 1.0) - 0.5) < 1e-6:
        raise Fragile(f"quantizer input {v!r} within 1e-6 of a boundary")
    # numpy round = half-even; guarded away from ties so int(v+0.5) is safe
    return math.floor(v + 0.5)


def scalar_symbols(pcm: list[float], sr: int) -> list[int]:
    frame = max(sr * FRAME_MS // 1000, 4)
    hop = max(sr * HOP_MS // 1000, 1)
    x = list(pcm)
    if len(x) < frame:
        x += [0.0] * (frame - len(x))
    nf = 1 + (len(x) - frame) // hop
    log_es, syms = [], []
    for fi in range(nf):
        fr = x[fi * hop : fi * hop + frame]
        energy = sum(v * v for v in fr) / frame
        log_es.append(math.log10(energy + 1e-12))
    peak = max(log_es)
    for fi in range(nf):
        fr = x[fi * hop : fi * hop + frame]
        e_rel = log_es[fi] - peak
        e_level = min(max(_guard_round(-e_rel / 0.6), 0), 3)
        signs = [v >= 0.0 for v in fr]
        crossings = [i for i in range(len(fr) - 1) if signs[i + 1] != signs[i]]
        if len(crossings) >= 2:
            span = max(crossings[-1] - crossings[0], 1)
            freq = (len(crossings) - 1) * sr / (2.0 * span)
        else:
            freq = 0.0
        pitch = min(max(_guard_round(4.0 * math.log2(max(freq, 1.0) / 110.0)), 0), 23)
        syms.append(pitch * 4 + e_level)
    # RLE, min-run, merge adjacent
    runs, i = [], 0
    while i < len(syms):
        j = i
        while j < len(syms) and syms[j] == syms[i]:
            j += 1
        if j - i >= MIN_RUN:
            runs.append(syms[i])
        i = j
    merged = [s for k, s in enumerate(runs) if k == 0 or s != runs[k - 1]]
    return merged


def scalar_gram_set(sym: list[int], seed: int) -> set[int]:
    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128

    s = list(sym)
    if len(s) < K:
        s += [0] * (K - len(s))
    return {
        murmur3_x64_128(bytes(s[i : i + K]), seed)[0] for i in range(len(s) - K + 1)
    }


def main() -> None:
    import numpy as np

    from datasketches_pig_spark.audioops.adpcm import adpcm_decode
    from datasketches_pig_spark.config import DedupConfig
    from datasketches_pig_spark.data.audio import SR_HZ, synth_adpcm_bytes
    from datasketches_pig_spark.operators.shingle import audio_shingle_hashes

    cfg = DedupConfig()
    assert (cfg.audio_frame_ms, cfg.audio_hop_ms, cfg.audio_min_run,
            cfg.shingle_k_audio) == (FRAME_MS, HOP_MS, MIN_RUN, K), (
        "engine config drifted from the scalar replication's constants"
    )

    sets: dict[int, set[int]] = {}
    for doc_id in range(N_CLIPS):
        blob = synth_adpcm_bytes(doc_id)
        ints, sr = scalar_adpcm_decode(blob)
        assert sr == SR_HZ
        # cross-check 1: scalar decode == vectorized decode, bit-for-bit at
        # the PCM16 level (the engine then divides in float32; recovering the
        # integer via round() is exact for |s| <= 32767 at 24-bit mantissa)
        vec, _ = adpcm_decode(blob)
        assert len(vec) == len(ints)
        vec_ints = np.round(vec.astype(np.float64) * 32767.0).astype(int)
        # the engine clips the float conversion to [-1, 1], so a predictor
        # value of -32768 surfaces as -32767 after the round-trip
        ints_at_float = [max(i, -32767) for i in ints]
        assert vec_ints.tolist() == ints_at_float, f"decoder disagreement on clip {doc_id}"
        # features run on the engine's float32 sample values — emulate the
        # exact dtype (float32 divide), then compute scalar-wise in float64
        pcm = [
            float(x)
            for x in np.clip(
                np.asarray(ints, np.int16).astype(np.float32) / 32767.0, -1.0, 1.0
            )
        ]
        sym = scalar_symbols(pcm, sr)
        # cross-check 2: scalar symbols reproduce the engine kernel's grams
        kernel, counts = audio_shingle_hashes([vec], [sr], cfg)
        assert counts.tolist() == [len(kernel)]
        mine = scalar_gram_set(sym, SEED)
        if set(int(h) for h in kernel) != mine:
            raise Fragile(f"kernel/scalar gram disagreement on clip {doc_id}")
        sets[doc_id] = mine

    rows = []
    for a in range(N_CLIPS):
        for b in range(a + 1, N_CLIPS):
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / len(sets[a] | sets[b])
            if abs(j - THRESHOLD) < 0.02 and j != THRESHOLD:
                raise Fragile(f"pair ({a},{b}) jaccard {j} hugs the threshold")
            if j >= THRESHOLD:
                scaled = j * 1e6
                if abs((scaled % 1.0) - 0.5) < 1e-9:
                    raise Fragile(f"pair ({a},{b}) jaccard {j} is a rounding tie")
                rows.append((a, b, round(j, 6)))

    planted = [(d - 2, d) for d in range(N_CLIPS) if d % 5 == 4]
    got = {(a, b) for a, b, _ in rows}
    missing = [p for p in planted if p not in got]
    assert not missing, f"planted pairs below threshold: {missing}"

    print(f"-- {len(rows)} pairs ({len(planted)} planted); threshold {THRESHOLD}")
    print("SQL_DEDUP_ADPCM = \"\"\"")
    print(
        "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
        "CAST(jaccard AS DOUBLE) AS jaccard FROM (VALUES"
    )
    print(",\n".join(f"  ({a}, {b}, {j})" for a, b, j in sorted(rows)))
    print(") t(a, b, jaccard)")
    print("\"\"\"")


if __name__ == "__main__":
    main()
