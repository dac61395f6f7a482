"""Frozen pipeline configuration — the "shingle/signature config" that the
recall acceptance criterion is conditioned on (BASELINE.json: dup-pair recall
≥ 0.99 *at identical shingle/signature config*).

Mirrors the reference's plan-time validation (parameters checked at
construction, not execution — ``pig/theta/DataToSketch.java:129-135``) and its
seed-checked deserialization rule (``pig/theta/PigUtil.java:70-76``): the
config hash is stamped into every lineage row, and a resumed run refuses to
continue across a config change.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling ---
    shingle_k_text: int = 5          # byte 5-grams over normalized transcript
    shingle_k_audio: int = 2         # k-grams over the RLE note-symbol stream
    audio_frame_ms: int = 25         # analysis frame length for PCM features
    audio_hop_ms: int = 10           # frame hop
    audio_min_run: int = 2           # min frames per kept symbol run (RLE)

    # --- signatures ---
    num_perm: int = 128              # k-permutation MinHash width (LSH banding)
    kmv_k: int = 256                 # bottom-k (KMV/theta-analog) sketch size
    band_count: int = 32             # LSH bands
    rows_per_band: int = 4           # num_perm == band_count * rows_per_band
    seed: int = 9001                 # MurmurHash3 seed (dictionary.html:48-52)

    # --- candidate verification (composite rule, see operators/verify.py) ---
    jaccard_threshold: float = 0.7   # both-modalities-strong accept bar
    near_exact_threshold: float = 0.95  # one modality near-exact …
    weak_support_threshold: float = 0.25  # … the other above the noise floor
                                     # (negatives ≤ ~0.13/0.20 exact; ≥4σ of
                                     # KMV estimation noise below this bar)
    max_verify_chars: int = 65536    # containment-verify payload cap
                                     # (normalized chars): pairs whose
                                     # longer transcript exceeds this skip
                                     # the exact suffix-array LCS for the
                                     # bounded chunk-probe containment
                                     # check — the last per-pair cost in
                                     # the verify stage is then O(cap log²
                                     # cap), so an hour-long-episode
                                     # corpus can't stall verify tasks
    max_bucket_size: int = 64        # LSH bucket cap before star links

    # --- clustering ---
    max_unionfind_rounds: int = 50

    def __post_init__(self) -> None:
        if self.num_perm != self.band_count * self.rows_per_band:
            raise ValueError(
                f"num_perm ({self.num_perm}) must equal band_count*rows_per_band "
                f"({self.band_count}*{self.rows_per_band})"
            )
        if self.kmv_k < 16 or self.kmv_k & (self.kmv_k - 1):
            # power-of-2 ≥ 16, mirroring theta nomEntries validation
            # (pig/theta/DataToSketch.java:129-135)
            raise ValueError(f"kmv_k must be a power of 2 >= 16, got {self.kmv_k}")
        if not (0.0 < self.jaccard_threshold <= 1.0):
            raise ValueError("jaccard_threshold must be in (0, 1]")
        if self.shingle_k_text < 1 or self.shingle_k_audio < 1:
            raise ValueError("shingle sizes must be >= 1")
        if self.max_verify_chars < 4096:
            # below ~4k the chunk-probe relaxation's slack term
            # (2·chunk/len) stops being small against min_frac
            raise ValueError(
                f"max_verify_chars must be >= 4096, got {self.max_verify_chars}"
            )

    def config_hash(self) -> str:
        """Deterministic hash of the full config — stamped into lineage rows."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
