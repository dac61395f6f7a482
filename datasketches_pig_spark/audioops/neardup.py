"""Pure-audio near-duplicate pairs — the audio-modality analog of
``textops.dedup.minhash_dedup_pairs`` and ``imageops.features.image_near_pairs``.

Scale shape (identical to the clip pipeline's, minus the text modality):
one fused Arrow pass per partition decodes payloads and emits only
fixed-size artifacts (band keys + bottom-k KMV sketch) — raw audio bytes
and PCM never cross a shuffle boundary; candidates come from the one LSH
candidate path of the near-dup operators (`operators/lsh.lsh_candidates`:
one band-key exchange, hot buckets star-linked, bounded reducer state);
the verify join ships the KMV arrays only for candidate ids (a semi-joined
fraction of the corpus) and computes Jaccard JVM-side with array algebra —
no Python in the verify path.

Jaccard from bottom-k sketches is the engine-wide contract: EXACT whenever
a clip's distinct-shingle count is below ``cfg.kmv_k`` (which is what makes
the operator oracle-checkable at test scale), the standard KMV estimate
above it.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.operators.verify import _flipped_prefix
from datasketches_pig_spark.sketch.theta import theta_jaccard


def kmv_pair_jaccard(ka: str, kb: str, na: str, nb: str, k: int):
    """JVM-side KMV pair-Jaccard column, mirroring
    ``operators/signatures.kmv_jaccard`` (unit-tested against it):

    - both sides complete (``n <= k`` so the kmv array IS the gram set) →
      exact ``|A∩B| / |A∪B|``;
    - either side truncated → ``sketch.theta.theta_jaccard`` over the
      sign-flipped sketches: the fraction of the bottom-k of the merged
      union present in BOTH.  Taking the bottom-k *of the union* (not the
      raw 2k-element union) is what keeps the estimator unbiased — the
      raw-union denominator would bias J low and drop true near-threshold
      pairs at scale.
    """
    exact_j = F.size(F.array_intersect(ka, kb)) / F.greatest(
        F.size(F.array_union(ka, kb)), F.lit(1)
    )
    est = theta_jaccard(_flipped_prefix(ka, k), _flipped_prefix(kb, k), k)
    return F.when((F.col(na) <= k) & (F.col(nb) <= k), exact_j).otherwise(est)


def audio_signature_frame(
    clips: DataFrame, cfg: DedupConfig, id_col: str = "clip_id"
) -> DataFrame:
    """Fused Arrow pass: (id, bytes, sr_hz, codec) → (id, bands, kmv, n).

    One partition-local decode→feature→signature pass — raw audio bytes and
    PCM never leave it; what crosses the shuffle boundary downstream is
    ≤ ``32·8 + kmv_k·8`` bytes per clip.  ``kmv`` is the bottom-k of the
    clip's shingle-hash set, so it IS the full set whenever the clip has
    ≤ ``cfg.kmv_k`` distinct grams (the exact-below-k contract)."""
    from datasketches_pig_spark.audioops.codecs import decode_clip, dur_ms_batch
    from datasketches_pig_spark.operators.shingle import audio_shingle_hashes
    from datasketches_pig_spark.operators.signatures import (
        band_hashes,
        kmv_prefixes,
        minhash_signatures,
    )

    from datasketches_pig_spark.decoders import audio_decoder_snapshot

    id_type = clips.schema[id_col].dataType.simpleString()
    sig_schema = f"id {id_type}, bands array<long>, kmv array<long>, n int"
    seed, num_perm, kmv_k = cfg.seed, cfg.num_perm, cfg.kmv_k
    bc, rpb = cfg.band_count, cfg.rows_per_band
    ext = audio_decoder_snapshot()  # plan-build-time capture → executors

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pcms = [
                decode_clip(b, c, int(s), decoders=ext, dur_ms=d)
                for b, c, s, d in zip(
                    pdf["bytes"], pdf["codec"], pdf["sr_hz"], dur_ms_batch(pdf)
                )
            ]
            values, counts = audio_shingle_hashes(pcms, list(pdf["sr_hz"]), cfg)
            mh = minhash_signatures(values, counts, num_perm, seed)
            bands = band_hashes(mh, bc, rpb, seed)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "bands": list(bands.view(np.int64)),
                    "kmv": kmv_prefixes(values, counts, kmv_k),
                    "n": counts.astype(np.int32),
                }
            )

    return clips.select(id_col, "bytes", "sr_hz", "codec").mapInPandas(
        run, schema=sig_schema
    )


def audio_near_pairs(
    clips: DataFrame,
    threshold: float = 0.5,
    cfg: DedupConfig | None = None,
    id_col: str = "clip_id",
    bucket_cap: int = 64,
) -> DataFrame:
    """(id, bytes, sr_hz, codec) → (a, b, jaccard) audio near-dup pairs.

    Recall contract: complete for pairs with true Jaccard ≥ threshold while
    no band bucket exceeds ``bucket_cap`` (buckets above the cap are
    star-linked, trading per-bucket completeness for bounded reducer state —
    transitive closure downstream recovers connectivity, same rule as the
    clip pipeline).  Candidate recall at the threshold itself is the LSH
    banding curve ``1-(1-j^r)^b`` — near 1 for j ≫ the band midpoint; use
    ``audio_exact_pairs`` when a corpus needs deterministic completeness."""
    cfg = cfg or DedupConfig()
    from datasketches_pig_spark.operators.lsh import lsh_candidates

    sigs = audio_signature_frame(clips, cfg, id_col).localCheckpoint()
    cand = lsh_candidates(sigs.filter(F.col("n") > 0), F.col("bands"), bucket_cap)

    sa = sigs.select(
        F.col("id").alias("a"), F.col("kmv").alias("ka"), F.col("n").alias("na")
    )
    sb = sigs.select(
        F.col("id").alias("b"), F.col("kmv").alias("kb"), F.col("n").alias("nb")
    )
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", kmv_pair_jaccard("ka", "kb", "na", "nb", cfg.kmv_k))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def audio_exact_pairs(
    clips: DataFrame,
    threshold: float = 0.5,
    cfg: DedupConfig | None = None,
    id_col: str = "clip_id",
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Deterministically COMPLETE audio near-dup pairs via a shingle-hash
    inverted index — the audio analog of ``textops.dedup.ngram_jaccard_pairs``
    (and, like it, a valid oracle target for the LSH path).

    Any pair with Jaccard > 0 shares ≥ 1 gram hash, so the gram self-join
    finds every pair regardless of threshold — no banding-curve recall term.
    Jaccard is EXACT whenever each clip's distinct-gram count is ≤
    ``cfg.kmv_k`` (the ``kmv`` column is then the full set); above that it
    degrades to the same bottom-k intersection estimate the LSH verify uses.

    Scale note: quadratic in co-shingled clips per gram — at corpus scale
    pass ``max_gram_freq`` to drop ubiquitous grams before the self-join
    (Jaccard over hot-grammed pairs then undercounts, same trade-off as the
    text operator documents); ``audio_near_pairs`` is the production path."""
    cfg = cfg or DedupConfig()
    sigs = audio_signature_frame(clips, cfg, id_col).localCheckpoint()
    grams = sigs.select("id", F.explode("kmv").alias("g"))
    if max_gram_freq:
        hot = grams.groupBy("g").count().filter(F.col("count") > max_gram_freq)
        grams = grams.join(hot.select("g"), "g", "left_anti")
    common = (
        grams.select(F.col("id").alias("a"), "g")
        .join(grams.select(F.col("id").alias("b"), "g"), "g")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sizes = sigs.select("id", F.size("kmv").alias("n_kmv"))
    sa = sizes.select(F.col("id").alias("a"), F.col("n_kmv").alias("na"))
    sb = sizes.select(F.col("id").alias("b"), F.col("n_kmv").alias("nb"))
    return (
        common.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
