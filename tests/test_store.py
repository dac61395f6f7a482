"""Bucketed signature store: the stored side of a clip_id join must carry no
Exchange (co-located sort-merge join), and verify-against-store must produce
the same verified pairs as the in-job path.  Plus the store helpers' own
contracts: a bucketed write emits at most one file per bucket, and a JSON
commit record is replaced atomically."""

import json
import os

import pyspark.sql.functions as F
import pytest

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.data.clips import generate_clips_pandas
from datasketches_pig_spark.operators.stages import signature_stage
from datasketches_pig_spark.operators.verify import verify_pairs
from datasketches_pig_spark.store import bucket_count, commit_json, save_bucketed


@pytest.fixture(scope="module")
def sig_store(spark, tmp_path_factory):
    clips_pdf, _, _ = generate_clips_pandas(30, seed=77)
    clips = spark.createDataFrame(clips_pdf)
    cfg = DedupConfig()
    sigs = signature_stage(clips, cfg).localCheckpoint()
    d = tmp_path_factory.mktemp("store")
    spark.sql("DROP TABLE IF EXISTS sig_store_test")
    save_bucketed(sigs, "sig_store_test", str(d / "sigs"), "clip_id", num_buckets=8)
    return clips, cfg, sigs


def test_bucketed_join_no_exchange_on_stored_side(spark, sig_store):
    clips, cfg, sigs = sig_store
    stored = spark.table("sig_store_test")

    ids = [r["clip_id"] for r in sigs.select("clip_id").limit(20).collect()]
    probe = spark.createDataFrame([(i,) for i in ids], "a string")
    joined = probe.join(
        stored.withColumnRenamed("clip_id", "a").hint("merge"), "a"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the stored side scans with its bucket spec and needs NO shuffle: the
    # only hash-partitioning Exchange is the probe side being shuffled INTO
    # the table's bucketing; a non-bucketed read would need two
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount" in plan, plan


def test_verify_pairs_on_bucketed_store_matches_in_job_path(spark, sig_store):
    clips, cfg, sigs = sig_store
    stored = spark.table("sig_store_test")

    ids = [r["clip_id"] for r in sigs.select("clip_id").limit(12).collect()]
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]], "a string, b string"
    )
    tr = clips.select("clip_id", "transcript")

    in_job = verify_pairs(pairs, sigs, cfg, transcripts=tr).toPandas()
    from_store = verify_pairs(pairs, stored, cfg, transcripts=tr).toPandas()
    key = ["a", "b"]
    assert (
        in_job.sort_values(key).reset_index(drop=True).equals(
            from_store.sort_values(key).reset_index(drop=True)
        )
    )


def test_save_bucketed_writes_at_most_one_file_per_bucket(spark, tmp_path):
    rows = spark.range(0, 5000, numPartitions=6).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    spark.sql("DROP TABLE IF EXISTS bucketed_files_test")
    path = tmp_path / "t"
    save_bucketed(rows, "bucketed_files_test", str(path), "k", num_buckets=4)
    save_bucketed(
        rows.filter("v < 100"), "bucketed_files_test", str(path), "k",
        num_buckets=bucket_count(spark, "bucketed_files_test"), mode="append",
    )
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    # 6 input tasks × 4 buckets would be 24 files per write
    assert len(files) <= 2 * 4, files
    got = sorted(tuple(r) for r in spark.table("bucketed_files_test").collect())
    want = sorted(
        tuple(r) for r in rows.unionByName(rows.filter("v < 100")).collect()
    )
    assert got == want


def test_commit_json_failed_replace_keeps_previous_record(tmp_path, monkeypatch):
    target = tmp_path / "marker.json"
    commit_json(target, {"n": 1})
    before = target.read_bytes()

    def crash(src, dst):
        raise OSError("crash before the rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="crash before the rename"):
        commit_json(target, {"n": 2, "payload": "x" * 10_000})
    assert target.read_bytes() == before
    assert json.loads(before) == {"n": 1}
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "marker.json",
        "marker.json.tmp",
    ]
