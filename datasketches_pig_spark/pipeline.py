"""End-to-end near-duplicate detection pipeline with checkpoint/resume and
per-stage lineage — the engine's flagship query.

Stage graph (all DataFrame-native; Python only inside Arrow-batched kernels):

    clips ──signature_stage──▶ signatures          (narrow, fused decode+sign)
    signatures ──bands(text)∪bands(audio)∪exact──▶ bands (narrow)
    bands ──candidate_pairs──▶ candidates          (ONE band-key exchange)
    candidates ⋈ signatures ──verify──▶ verified   (2 joins + Arrow verifier)
    verified ──union-find──▶ clusters              (iterative joins, fixpoint)

The exact-byte fast path rides the same expansion: ``exact_key`` is emitted
as one more band row per clip (byte-identical clips share every LSH band
anyway, so this adds recall only for zero-shingle clips while keeping a
second bucket expansion out of the candidates stage; the verifier still
decides exact duplicates by comparing ``exact_key`` directly).

Checkpointing mirrors the reference's compact-sketch-between-stages contract:
each stage materializes to Parquet under ``run_dir`` with a manifest carrying
the config hash; a resumed run loads completed stages and *refuses to resume
across a config change* (the seed-check rule, ``pig/theta/PigUtil.java:70-76``).
When an Iceberg catalog is configured the same writer targets Iceberg tables;
in this sandbox it emits Parquet directories + a JSON manifest.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.operators.lsh import candidate_pairs
from datasketches_pig_spark.operators.stages import signature_stage
from datasketches_pig_spark.operators.unionfind import connected_components
from datasketches_pig_spark.operators.verify import verify_pairs
from datasketches_pig_spark.store import commit_json

@dataclass
class RunResult:
    clusters: DataFrame
    lineage: list[dict] = field(default_factory=list)
    stage_frames: dict[str, DataFrame] = field(default_factory=dict)


class CheckpointStore:
    """Parquet + JSON-manifest checkpoint store (Iceberg-shaped: a table per
    stage, a manifest as the commit record)."""

    def __init__(self, spark: SparkSession, run_dir: str, cfg: DedupConfig):
        self.spark = spark
        self.run_dir = run_dir
        self.cfg = cfg
        self.manifest_path = os.path.join(run_dir, "manifest.json")
        self.manifest = self._load_manifest()

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                m = json.load(f)
            if m.get("config_hash") != self.cfg.config_hash():
                raise ValueError(
                    "refusing to resume: checkpoint config_hash "
                    f"{m.get('config_hash')} != current {self.cfg.config_hash()} "
                    "(seed-check rule: identical shingle/signature config required)"
                )
            return m
        return {"config_hash": self.cfg.config_hash(), "stages": {}}

    def has(self, stage: str) -> bool:
        return stage in self.manifest["stages"]

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.manifest["stages"][stage]["path"])

    def save(self, stage: str, df: DataFrame, lineage: dict) -> DataFrame:
        path = os.path.join(self.run_dir, stage)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        # per-partition lineage (north-star contract): row counts keyed by
        # physical partition id of the table as written — a restarted run can
        # audit exactly which partitions a resumed stage carries.  One cheap
        # agg job over the just-written parquet (checkpointed mode only).
        lineage["partition_rows"] = {
            str(r["pid"]): r["rows"]
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        }
        self.manifest["stages"][stage] = {"path": path, "lineage": lineage}
        os.makedirs(self.run_dir, exist_ok=True)
        commit_json(self.manifest_path, self.manifest)
        return out

    def annotate(self, stage: str, lineage: dict) -> None:
        """Re-commit a completed stage's manifest entry with post-save
        metrics (signature/band metrics land after the stage is written)."""
        self.manifest["stages"][stage]["lineage"] = lineage
        commit_json(self.manifest_path, self.manifest)


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    cfg: DedupConfig | None = None,
    run_dir: str | None = None,
) -> RunResult:
    """Run (or resume) the full dedup pipeline.  With ``run_dir`` set, each
    stage checkpoints and a rerun resumes after the last complete stage."""
    cfg = cfg or DedupConfig()
    store = CheckpointStore(spark, run_dir, cfg) if run_dir else None
    lineage: list[dict] = []
    frames: dict[str, DataFrame] = {}

    def stage(name: str, build, materialize: bool = True):
        t0 = time.time()
        if store and store.has(name):
            df = store.load(name)
            lineage.append({"stage": name, "resumed": True, "config": cfg.config_hash()})
        else:
            df = build()
            entry = {"stage": name, "resumed": False, "config": cfg.config_hash()}
            if store:
                df = store.save(name, df, entry)
                entry["rows_out"] = sum(entry["partition_rows"].values())
                entry["partitions"] = df.rdd.getNumPartitions()
            elif materialize:
                df = df.localCheckpoint()
                entry["rows_out"] = df.count()
                entry["partitions"] = df.rdd.getNumPartitions()
            # materialize=False without a store: the stage stays lazy and is
            # computed inside its (single) consumer's job — no barrier, no
            # count pass; rows_out is intentionally absent from its lineage
            entry["wall_s"] = round(time.time() - t0, 3)
            lineage.append(entry)
        frames[name] = df
        return df

    signatures = stage("signatures", lambda: signature_stage(clips, cfg))

    if store and not lineage[-1].get("resumed"):
        # signature metrics (north-star contract: signature/band metrics ride
        # the checkpoint manifest).  ONE agg job over the checkpointed stage;
        # skipped on resume (already in the manifest) and in store-less runs
        # (the bench hot path pays no extra pass).
        m = signatures.agg(
            F.count(F.lit(1)).alias("clips"),
            F.sum(F.when(F.col("n_text_shingles") == 0, 1).otherwise(0)).alias(
                "empty_text"
            ),
            F.sum(
                F.when(F.col("n_audio_shingles") == 0, 1).otherwise(0)
            ).alias("empty_audio"),
            F.avg("n_text_shingles").alias("avg_text_shingles"),
            F.avg("n_audio_shingles").alias("avg_audio_shingles"),
        ).collect()[0]
        lineage[-1]["signature_metrics"] = {
            k: (round(v, 3) if isinstance(v, float) else v)
            for k, v in m.asDict().items()
        }
        store.annotate("signatures", lineage[-1])

    # bands: a pure JVM explode of the (already-checkpointed) signatures —
    # its single consumer is the candidate step, which writes the band rows
    # to shuffle once and reads that exchange in every branch, so without a
    # checkpoint store there is nothing to protect and the stage stays lazy
    # (one fewer barrier + count pass).  With a store it still materializes
    # for resume granularity.
    # exact_key is one more band row per clip — NOT filtered on shingle
    # counts, so byte-identical silent/empty clips still pair up.  r8: one
    # fused explode (incremental.all_bands) instead of a 3-branch union —
    # one signature scan, a third of the codegen.
    from datasketches_pig_spark.incremental import all_bands

    bands = stage(
        "bands",
        lambda: all_bands(signatures, cfg),
        materialize=False,
    )

    # exchange widths follow the session's spark.sql.shuffle.partitions: no
    # repartition pin, so the (a, b) distinct keeps its map-side partial
    # aggregate below the exchange
    candidates = stage(
        "candidates", lambda: candidate_pairs(bands, cfg).distinct()
    )

    if store and not lineage[-1].get("resumed"):
        # band metrics: bucket-size histogram in log2 classes + the hot-bucket
        # count over the salting cap — the numbers an operator watches to know
        # whether the LSH band config still tames skew at production scale
        hist = (
            bands.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .groupBy(
                F.floor(F.log2(F.col("sz"))).cast("int").alias("log2_size")
            )
            .agg(
                F.count(F.lit(1)).alias("buckets"),
                F.sum(F.when(F.col("sz") > cfg.max_bucket_size, 1).otherwise(0)).alias(
                    "over_cap"
                ),
            )
            .orderBy("log2_size")
            .collect()
        )
        lineage[-1]["band_metrics"] = {
            "bucket_log2_histogram": {
                str(r["log2_size"]): r["buckets"] for r in hist
            },
            "buckets_over_salting_cap": int(sum(r["over_cap"] for r in hist)),
            "max_bucket_size_cap": cfg.max_bucket_size,
        }
        store.annotate("candidates", lineage[-1])
    # the signature count gates verify's broadcast joins; it is free when the
    # signatures stage just materialized (rows_out), counted on resume
    n_sigs = next(
        (e.get("rows_out") for e in reversed(lineage) if e["stage"] == "signatures"),
        None,
    ) or signatures.count()
    verified = stage(
        "verified",
        lambda: verify_pairs(
            candidates,
            signatures,
            cfg,
            transcripts=clips.select("clip_id", "transcript"),
            n_signatures=n_sigs,
        ),
    )

    def build_clusters():
        dup_edges = verified.filter(F.col("is_dup")).select("a", "b")
        vertices = signatures.select("clip_id")
        return connected_components(dup_edges, vertices, cfg)

    clusters = stage("clusters", build_clusters)

    return RunResult(clusters=clusters, lineage=lineage, stage_frames=frames)
