"""Pipeline-level acceptance: planted-duplicate corpus → dup-pair recall
≥ 0.99 and cluster-assignment equality vs ground truth (BASELINE.json), plus
checkpoint-resume identity (FIXTURES.md F4)."""

import pyspark.sql.functions as F
import pytest

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.data.clips import generate_clips_pandas
from datasketches_pig_spark.pipeline import run_pipeline

N_GROUPS = 250


@pytest.fixture(scope="module")
def corpus(spark):
    clips_pdf, truth_pairs, truth_clusters = generate_clips_pandas(N_GROUPS, seed=42)
    clips = spark.createDataFrame(clips_pdf).repartition(8).cache()
    clips.count()
    return clips, truth_pairs, truth_clusters


def test_recall_and_cluster_equality(spark, corpus):
    clips, truth_pairs, truth_clusters = corpus
    result = run_pipeline(spark, clips, DedupConfig())

    verified = result.stage_frames["verified"].filter(F.col("is_dup"))
    found = {
        (min(r.a, r.b), max(r.a, r.b)) for r in verified.select("a", "b").collect()
    }
    truth = {
        (min(a, b), max(a, b)) for a, b in zip(truth_pairs["a"], truth_pairs["b"])
    }

    # direct-pair recall: found pairs may connect transitively, so measure on
    # the transitive closure (the clusters), plus raw pair recall as a floor
    clusters = result.clusters.toPandas()
    got = dict(zip(clusters["clip_id"], clusters["cluster_id"]))
    want = dict(zip(truth_clusters["clip_id"], truth_clusters["cluster_id"]))
    assert set(got) == set(want)

    # recall over truth pairs measured via cluster co-membership
    co = sum(1 for a, b in truth if got[a] == got[b])
    recall = co / len(truth)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"

    # precision: no cross-group merges (cluster equality both directions)
    mism = sum(1 for c in got if got[c] != want[c])
    assert mism == 0, f"{mism}/{len(got)} cluster assignments differ from truth"


def test_pipeline_deterministic_across_parallelism(spark, corpus):
    """Identical config ⇒ identical signatures regardless of partitioning."""
    clips, _, _ = corpus
    from datasketches_pig_spark.operators.stages import signature_stage

    cfg = DedupConfig()
    s1 = (
        signature_stage(clips.repartition(2), cfg)
        .select("clip_id", "text_simhash", "audio_simhash", "exact_key")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    s2 = (
        signature_stage(clips.repartition(13), cfg)
        .select("clip_id", "text_simhash", "audio_simhash", "exact_key")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert s1.equals(s2)


def test_checkpoint_resume_identity(spark, tmp_run_dir):
    clips_pdf, _, _ = generate_clips_pandas(40, seed=123)
    clips = spark.createDataFrame(clips_pdf)
    cfg = DedupConfig()

    r1 = run_pipeline(spark, clips, cfg, run_dir=tmp_run_dir)
    c1 = r1.clusters.toPandas().sort_values("clip_id").reset_index(drop=True)
    assert all(not e.get("resumed") for e in r1.lineage)

    # resume: all stages come back from the checkpoint store
    r2 = run_pipeline(spark, clips, cfg, run_dir=tmp_run_dir)
    assert all(e.get("resumed") for e in r2.lineage)
    c2 = r2.clusters.toPandas().sort_values("clip_id").reset_index(drop=True)
    assert c1.equals(c2)


def test_resume_refuses_config_change(spark, tmp_run_dir):
    clips_pdf, _, _ = generate_clips_pandas(10, seed=5)
    clips = spark.createDataFrame(clips_pdf)
    run_pipeline(spark, clips, DedupConfig(), run_dir=tmp_run_dir)
    with pytest.raises(ValueError, match="refusing to resume"):
        run_pipeline(spark, clips, DedupConfig(jaccard_threshold=0.5), run_dir=tmp_run_dir)


def test_resume_after_partial_run(spark, tmp_run_dir):
    """Kill-mid-run emulation: a run whose manifest records only the first two
    stages (signatures, bands) resumes there and recomputes the rest,
    producing clusters identical to an uninterrupted run (FIXTURES.md F4e)."""
    import json
    import os

    from datasketches_pig_spark.config import DedupConfig
    from datasketches_pig_spark.data.clips import generate_clips_spark
    from datasketches_pig_spark.pipeline import run_pipeline

    clips = generate_clips_spark(spark, n_groups=40, seed=21, out_dir=f"{tmp_run_dir}/in")
    full = run_pipeline(spark, clips, DedupConfig(), run_dir=f"{tmp_run_dir}/ckpt")
    expected = {tuple(r) for r in full.clusters.collect()}

    # drop every stage after 'bands' from the manifest — as if the process
    # died mid-candidates before the commit record was written
    mpath = f"{tmp_run_dir}/ckpt/manifest.json"
    with open(mpath) as f:
        m = json.load(f)
    for stage in ("candidates", "verified", "clusters"):
        m["stages"].pop(stage, None)
    with open(mpath, "w") as f:
        json.dump(m, f)

    r2 = run_pipeline(spark, clips, DedupConfig(), run_dir=f"{tmp_run_dir}/ckpt")
    resumed = {e["stage"]: e.get("resumed") for e in r2.lineage}
    assert resumed["signatures"] and resumed["bands"]
    assert not resumed["candidates"] and not resumed["clusters"]
    assert {tuple(r) for r in r2.clusters.collect()} == expected


def test_manifest_carries_partition_lineage_and_metrics(spark, tmp_run_dir):
    """North-star contract: the checkpoint manifest records per-partition row
    counts for every stage plus signature metrics (shingle stats) and band
    metrics (bucket-size histogram, over-cap count)."""
    import json

    clips_pdf, _, _ = generate_clips_pandas(30, seed=91)
    clips = spark.createDataFrame(clips_pdf)
    res = run_pipeline(spark, clips, DedupConfig(), run_dir=tmp_run_dir)

    with open(f"{tmp_run_dir}/manifest.json") as f:
        m = json.load(f)

    n_clips = clips.count()
    for stage_name, entry in m["stages"].items():
        prows = entry["lineage"]["partition_rows"]
        assert prows, f"{stage_name} missing partition_rows"
        assert all(isinstance(v, int) and v >= 0 for v in prows.values())
    # partition rows sum to the stage's row count
    sig_rows = sum(m["stages"]["signatures"]["lineage"]["partition_rows"].values())
    assert sig_rows == n_clips

    sm = m["stages"]["signatures"]["lineage"]["signature_metrics"]
    assert sm["clips"] == n_clips
    assert 0 <= sm["empty_text"] <= n_clips
    assert sm["avg_audio_shingles"] > 0

    bm = m["stages"]["candidates"]["lineage"]["band_metrics"]
    assert sum(bm["bucket_log2_histogram"].values()) > 0
    assert bm["buckets_over_salting_cap"] >= 0
    assert bm["max_bucket_size_cap"] == DedupConfig().max_bucket_size

    # the in-memory lineage carries the same records, and each stage's
    # rows_out is its partition rows' sum
    by_stage = {e["stage"]: e for e in res.lineage}
    for e in res.lineage:
        assert e["rows_out"] == sum(e["partition_rows"].values()), e["stage"]
    assert by_stage["signatures"]["signature_metrics"] == sm
    assert by_stage["candidates"]["band_metrics"] == bm

    # and a resumed run preserves them in the manifest (annotate is durable)
    r2 = run_pipeline(spark, clips, DedupConfig(), run_dir=tmp_run_dir)
    assert all(e.get("resumed") for e in r2.lineage)
    with open(f"{tmp_run_dir}/manifest.json") as f:
        m2 = json.load(f)
    assert m2["stages"]["signatures"]["lineage"]["signature_metrics"] == sm
    assert m2["stages"]["candidates"]["lineage"]["band_metrics"] == bm
