"""Incremental dedup: day-2 batch against persisted day-1 history must equal
the from-scratch run over both days — same cluster membership, same ids."""

import pyspark.sql.functions as F
import pytest

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.data.clips import generate_clips_pandas
from datasketches_pig_spark.incremental import incremental_dedup, save_history
from datasketches_pig_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def split_corpus(spark):
    """60 planted groups; day 2 holds one member of several day-1 groups
    (cross-day dups), every member of the last 10 groups (new-group internal
    dups), and day-1 keeps the rest."""
    clips_pdf, _, truth = generate_clips_pandas(60, seed=31)
    by_cluster = truth.groupby("cluster_id")["clip_id"].apply(list)
    multi = [c for c in by_cluster.index if len(by_cluster[c]) >= 2]
    day2_ids = set()
    for c in multi[:8]:  # cross-day dup: one member moves to day 2
        day2_ids.add(sorted(by_cluster[c])[-1])
    for c in by_cluster.index[-10:]:  # whole new groups in day 2
        day2_ids.update(by_cluster[c])
    day1 = clips_pdf[~clips_pdf["clip_id"].isin(day2_ids)]
    day2 = clips_pdf[clips_pdf["clip_id"].isin(day2_ids)]
    assert len(day1) and len(day2)
    return (
        spark.createDataFrame(day1).localCheckpoint(),
        spark.createDataFrame(day2).localCheckpoint(),
        spark.createDataFrame(clips_pdf).localCheckpoint(),
    )


def test_incremental_matches_from_scratch(spark, split_corpus, tmp_path_factory):
    day1, day2, both = split_corpus
    cfg = DedupConfig()
    base = str(tmp_path_factory.mktemp("hist"))
    for t in ("inc_test_signatures", "inc_test_band_buckets", "inc_test_clusters"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    # day 1: full pipeline, persist history
    r1 = run_pipeline(spark, day1, cfg)
    save_history(
        spark, r1.stage_frames["signatures"], r1.clusters, cfg, base, "inc_test",
        num_buckets=8,
    )

    # day 2: incremental against the store
    inc = incremental_dedup(
        spark, day2, cfg, "inc_test",
        old_transcripts=day1.select("clip_id", "transcript"),
    )
    got_new = {
        r["clip_id"]: r["cluster_id"] for r in inc.assignments.collect()
    }
    merges = {
        r["old_cluster_id"]: r["cluster_id"] for r in inc.merges.collect()
    }

    # oracle: from-scratch run over day1 ∪ day2
    full = run_pipeline(spark, both, cfg)
    want = {r["clip_id"]: r["cluster_id"] for r in full.clusters.collect()}

    # every day-2 clip gets exactly the from-scratch cluster id
    assert set(got_new) == {r["clip_id"] for r in day2.select("clip_id").collect()}
    for cid, cl in got_new.items():
        assert cl == want[cid], (cid, cl, want[cid])

    # day-1 assignments after applying the merge map equal the from-scratch run
    old = {r["clip_id"]: r["cluster_id"] for r in r1.clusters.collect()}
    for cid, cl in old.items():
        assert merges.get(cl, cl) == want[cid], (cid, cl, merges.get(cl, cl), want[cid])


def test_incremental_no_history_hits(spark, split_corpus, tmp_path_factory):
    """A batch with no relation to history: every clip clusters only within
    the batch; no old-cluster merges."""
    day1, _, _ = split_corpus
    cfg = DedupConfig()
    base = str(tmp_path_factory.mktemp("hist2"))
    for t in ("inc2_signatures", "inc2_band_buckets", "inc2_clusters"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    r1 = run_pipeline(spark, day1, cfg)
    save_history(
        spark, r1.stage_frames["signatures"], r1.clusters, cfg, base, "inc2",
        num_buckets=8,
    )

    fresh_pdf, _, fresh_truth = generate_clips_pandas(6, seed=999)
    # remap ids: the generator numbers sequentially, and reusing a history id
    # must be rejected (tested below), so the fresh batch gets its own prefix
    remap = lambda c: "fresh_" + c
    fresh_pdf = fresh_pdf.assign(clip_id=fresh_pdf["clip_id"].map(remap))
    fresh = spark.createDataFrame(fresh_pdf)
    inc = incremental_dedup(
        spark, fresh, cfg, "inc2",
        old_transcripts=day1.select("clip_id", "transcript"),
    )
    assert inc.merges.count() == 0
    got = {r["clip_id"]: r["cluster_id"] for r in inc.assignments.collect()}
    want = {
        remap(c): remap(cl)
        for c, cl in zip(fresh_truth["clip_id"], fresh_truth["cluster_id"])
    }
    assert got == want


def test_incremental_rejects_reingested_ids(spark, split_corpus):
    """A batch clip_id already in history must be refused, not aliased."""
    day1, _, _ = split_corpus
    cfg = DedupConfig()
    with pytest.raises(ValueError, match="already exists"):
        incremental_dedup(
            spark, day1.limit(3), cfg, "inc2",
            old_transcripts=day1.select("clip_id", "transcript"),
        )


def test_incremental_verify_reads_endpoint_signatures_only(
    spark, split_corpus, tmp_path_factory, monkeypatch
):
    """Verify runs against the batch plus only the stored signatures of the
    pairs' endpoints; its verified frame equals verifying the same pairs
    against the batch ∪ the whole store, row for row."""
    from datasketches_pig_spark import incremental
    from datasketches_pig_spark.operators.stages import signature_stage

    day1, day2, _ = split_corpus
    cfg = DedupConfig()
    for t in ("signatures", "band_buckets", "clusters"):
        spark.sql(f"DROP TABLE IF EXISTS incep_{t}")
    sigs1 = signature_stage(day1, cfg).localCheckpoint()
    singletons = sigs1.select("clip_id", F.col("clip_id").alias("cluster_id"))
    base = str(tmp_path_factory.mktemp("incep"))
    save_history(spark, sigs1, singletons, cfg, base, "incep", num_buckets=8)

    seen = {}
    real_verify = incremental.verify_pairs

    def spy(pairs, signatures, cfg, **kw):
        seen.update(pairs=pairs, signatures=signatures, kw=kw)
        return real_verify(pairs, signatures, cfg, **kw)

    monkeypatch.setattr(incremental, "verify_pairs", spy)
    inc = incremental_dedup(
        spark, day2, cfg, "incep",
        old_transcripts=day1.select("clip_id", "transcript"),
    )
    whole = inc.new_sigs.unionByName(spark.table("incep_signatures"))
    old_form = real_verify(
        seen["pairs"], whole, cfg, transcripts=seen["kw"]["transcripts"]
    ).filter(F.col("is_dup"))

    key = ["a", "b"]
    got = inc.verified.toPandas().sort_values(key).reset_index(drop=True)
    want = old_form.toPandas().sort_values(key).reset_index(drop=True)
    assert len(got) > 0
    assert got.equals(want)
    # the endpoint frame holds the batch plus old endpoints, not the store
    n_batch = inc.new_sigs.count()
    assert n_batch < seen["signatures"].count() < whole.count()


def test_band_store_join_colocated(spark, split_corpus):
    """The new-batch band join against the persisted bucket store must not
    shuffle the store side (bucketed by band_key)."""
    stored = spark.table("inc2_band_buckets")
    probe = spark.createDataFrame([(1,), (2,)], "band_key long")
    plan = (
        probe.join(stored.hint("merge"), "band_key")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Bucketed: true" in plan, plan


def test_fold_crash_recovery(spark, split_corpus, tmp_path_factory):
    """The journaled fold contract, executable: inject a crash after every
    fold step, then repair_fold must complete the interrupted fold and
    leave the store byte-equal (rows, buckets, counts) to an uninterrupted
    fold of the same batch."""
    from datasketches_pig_spark.incremental import (
        fold_history,
        pending_fold,
        repair_fold,
    )

    day1, day2, both = split_corpus
    cfg = DedupConfig()
    r1 = run_pipeline(spark, day1, cfg)
    sigs1 = r1.stage_frames["signatures"].localCheckpoint()
    clusters1 = r1.clusters.localCheckpoint()

    def fresh_store(prefix, base):
        for t in ("signatures", "band_buckets", "clusters"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        save_history(spark, sigs1, clusters1, cfg, base, prefix, num_buckets=8)

    # reference: an uninterrupted fold
    refbase = str(tmp_path_factory.mktemp("foldref"))
    fresh_store("foldref", refbase)
    inc = incremental_dedup(
        spark, day2, cfg, "foldref",
        old_transcripts=day1.select("clip_id", "transcript"),
    )
    new_sigs = inc.new_sigs.localCheckpoint()
    assigns = inc.assignments.localCheckpoint()
    merges = inc.merges.localCheckpoint()
    fold_history(spark, new_sigs, assigns, merges, cfg, refbase, "foldref")
    assert pending_fold(refbase) is None  # journal gone after a clean fold

    def snapshot(prefix):
        clusters = sorted(
            (r["clip_id"], r["cluster_id"])
            for r in spark.table(f"{prefix}_clusters").collect()
        )
        buckets = sorted(
            (r["band_key"], tuple(r["members"]), r["bucket_n"], r["center"])
            for r in spark.table(f"{prefix}_band_buckets").collect()
        )
        return clusters, buckets, spark.table(f"{prefix}_signatures").count()

    want = snapshot("foldref")

    for point in ("signatures", "buckets_staged", "buckets", "clusters_staged", "clusters"):
        prefix = f"foldcr_{point}"
        base = str(tmp_path_factory.mktemp(prefix))
        fresh_store(prefix, base)
        with pytest.raises(RuntimeError, match="crash injected"):
            fold_history(
                spark, new_sigs, assigns, merges, cfg, base, prefix,
                _fail_after=point,
            )
        assert pending_fold(base) is not None, point
        assert repair_fold(spark, cfg, base, prefix) is True, point
        assert pending_fold(base) is None, point
        assert snapshot(prefix) == want, f"store diverged after crash at {point}"
        # a second repair on the clean store is a no-op
        assert repair_fold(spark, cfg, base, prefix) is False, point


def test_fold_entry_guard_replay_and_next_batch(spark, split_corpus, tmp_path_factory):
    """ADVICE r4 (medium): fold_history called on a store with a PENDING
    journal (a non-streaming caller crashed and never ran repair_fold) must
    not let stale step flags skip this batch's append or re-apply stale
    staged tables.  Two cases: a replay of the interrupted batch itself
    completes from the journal; a DIFFERENT next batch first completes the
    pending fold, then folds itself — both ending byte-equal to clean
    sequential folds."""
    from datasketches_pig_spark.incremental import fold_history, pending_fold

    day1, day2, both = split_corpus
    cfg = DedupConfig()
    r1 = run_pipeline(spark, day1, cfg)
    sigs1 = r1.stage_frames["signatures"].localCheckpoint()
    clusters1 = r1.clusters.localCheckpoint()

    day2_ids = sorted(r["clip_id"] for r in day2.select("clip_id").collect())
    half = set(day2_ids[: len(day2_ids) // 2])
    day2a = day2.filter(F.col("clip_id").isin(half)).localCheckpoint()
    day2b = day2.filter(~F.col("clip_id").isin(half)).localCheckpoint()

    def fresh_store(prefix, base):
        for t in ("signatures", "band_buckets", "clusters"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        save_history(spark, sigs1, clusters1, cfg, base, prefix, num_buckets=8)

    def snapshot(prefix):
        clusters = sorted(
            (r["clip_id"], r["cluster_id"])
            for r in spark.table(f"{prefix}_clusters").collect()
        )
        buckets = sorted(
            (r["band_key"], tuple(r["members"]), r["bucket_n"], r["center"])
            for r in spark.table(f"{prefix}_band_buckets").collect()
        )
        return clusters, buckets, spark.table(f"{prefix}_signatures").count()

    # --- reference: clean sequential folds of batch A then batch B --------
    refbase = str(tmp_path_factory.mktemp("guardref"))
    fresh_store("guardref", refbase)
    inc_a = incremental_dedup(
        spark, day2a, cfg, "guardref",
        old_transcripts=day1.select("clip_id", "transcript"),
    )
    a_inputs = (
        inc_a.new_sigs.localCheckpoint(),
        inc_a.assignments.localCheckpoint(),
        inc_a.merges.localCheckpoint(),
    )
    fold_history(spark, *a_inputs, cfg, refbase, "guardref")
    want_after_a = snapshot("guardref")
    inc_b = incremental_dedup(
        spark, day2b, cfg, "guardref",
        old_transcripts=day1.select("clip_id", "transcript"),
    )
    b_inputs = (
        inc_b.new_sigs.localCheckpoint(),
        inc_b.assignments.localCheckpoint(),
        inc_b.merges.localCheckpoint(),
    )
    fold_history(spark, *b_inputs, cfg, refbase, "guardref")
    want_after_b = snapshot("guardref")

    # --- case 1: replay of the interrupted batch via fold_history ---------
    base = str(tmp_path_factory.mktemp("guardreplay"))
    fresh_store("guardreplay", base)
    with pytest.raises(RuntimeError, match="crash injected"):
        fold_history(
            spark, *a_inputs, cfg, base, "guardreplay", _fail_after="buckets_staged"
        )
    assert pending_fold(base) is not None
    fold_history(spark, *a_inputs, cfg, base, "guardreplay")  # no repair_fold
    assert pending_fold(base) is None
    assert snapshot("guardreplay") == want_after_a

    # --- case 2: a DIFFERENT next batch with a pending journal ------------
    base = str(tmp_path_factory.mktemp("guardnext"))
    fresh_store("guardnext", base)
    with pytest.raises(RuntimeError, match="crash injected"):
        fold_history(
            spark, *a_inputs, cfg, base, "guardnext", _fail_after="signatures"
        )
    assert pending_fold(base) is not None
    # entry guard must complete A's fold from its journal, then fold B
    fold_history(spark, *b_inputs, cfg, base, "guardnext")
    assert pending_fold(base) is None
    assert snapshot("guardnext") == want_after_b


def test_fold_rejects_remote_base(spark, split_corpus):
    """ADVICE r4 (low): the journal's marker/flags are local-filesystem —
    a remote base_path must fail loudly instead of silently not recovering."""
    from datasketches_pig_spark.incremental import fold_history, repair_fold

    day1, _, _ = split_corpus
    cfg = DedupConfig()
    dummy = day1.limit(1)
    with pytest.raises(ValueError, match="local base_path"):
        fold_history(spark, dummy, dummy, dummy, cfg, "s3a://bkt/x", "nope")
    with pytest.raises(ValueError, match="local base_path"):
        repair_fold(spark, cfg, "hdfs://nn/x", "nope")
    # file:// is explicitly fine (still the local filesystem)
    from datasketches_pig_spark.incremental import _require_local_base

    _require_local_base("file:///tmp/x")
    _require_local_base("/tmp/x")


def test_fold_on_file_uri_base(spark, split_corpus, tmp_path_factory, monkeypatch):
    """A ``file://`` store base is the local filesystem: save_history, a
    crash-injected fold and repair_fold put the meta, the writer lock and
    the journal marker/flags in the directory the URI names — not under a
    relative ``file:`` directory in the CWD."""
    from datasketches_pig_spark.incremental import (
        _fold_lock,
        _local_dir,
        fold_history,
        pending_fold,
        repair_fold,
    )
    from datasketches_pig_spark.operators.stages import signature_stage

    day1, day2, _ = split_corpus
    cfg = DedupConfig()
    real = tmp_path_factory.mktemp("furi")
    base = real.as_uri()
    assert base.startswith("file:///")
    cwd = tmp_path_factory.mktemp("furi_cwd")
    monkeypatch.chdir(cwd)
    for t in ("signatures", "band_buckets", "clusters"):
        spark.sql(f"DROP TABLE IF EXISTS furi_{t}")
    sigs1 = signature_stage(day1, cfg).localCheckpoint()
    save_history(
        spark, sigs1, sigs1.select("clip_id", F.col("clip_id").alias("cluster_id")),
        cfg, base, "furi", num_buckets=4,
    )
    assert (real / "_store_meta.json").exists()
    with _fold_lock(base):
        assert (real / "_fold_lock").exists()
    assert not (real / "_fold_lock").exists()

    new_sigs = signature_stage(day2, cfg).localCheckpoint()
    assigns = new_sigs.select("clip_id", F.col("clip_id").alias("cluster_id"))
    merges = spark.createDataFrame([], "old_cluster_id string, cluster_id string")
    with pytest.raises(RuntimeError, match="crash injected"):
        fold_history(
            spark, new_sigs, assigns, merges, cfg, base, "furi",
            _fail_after="buckets_staged",
        )
    journal = real / "_fold_journal"
    assert (journal / "marker.json").exists() and (journal / "sig_done.flag").exists()
    assert pending_fold(base) is not None
    assert repair_fold(spark, cfg, base, "furi") is True
    assert pending_fold(base) is None and not journal.exists()
    assert not (real / "_fold_lock").exists()
    assert spark.table("furi_signatures").count() == day1.count() + day2.count()
    assert spark.table("furi_clusters").count() == day1.count() + day2.count()
    assert list(cwd.iterdir()) == []
    # Hadoop's single-slash form names the same directory
    assert _local_dir(f"file:{real}") == _local_dir(base) == real


def test_incremental_releases_shard_caches(spark, split_corpus):
    """ADVICE r4 (low): every incremental_dedup call (and therefore every
    streaming micro-batch) must return without registering a shard cache —
    a long-running ingest must not accumulate one persisted frame per batch.
    Neither it nor run_pipeline drops a caller's own cache: the
    ``video_near_pairs`` shard cache built first is still the only one."""
    from datasketches_pig_spark.data.videos import synth_video_frame
    from datasketches_pig_spark.operators.lsh import (
        _SHARD_CACHES,
        release_shard_caches,
    )
    from datasketches_pig_spark.videoops.frames import video_near_pairs

    day1, day2, _ = split_corpus
    cfg = DedupConfig()
    vids = synth_video_frame(
        spark.range(4).select(F.col("id").alias("doc_id"))
    ).localCheckpoint()
    release_shard_caches()
    video_near_pairs(vids, stride=1).collect()
    video_cache = list(_SHARD_CACHES)
    assert len(video_cache) == 1
    for t in ("signatures", "band_buckets", "clusters"):
        spark.sql(f"DROP TABLE IF EXISTS shrel_{t}")
    r1 = run_pipeline(spark, day1, cfg)
    save_history(
        spark, r1.stage_frames["signatures"], r1.clusters, cfg,
        str(spark.conf.get("spark.sql.warehouse.dir")).replace("file:", "")
        + "/shrel_base",
        "shrel", num_buckets=8,
    )
    incremental_dedup(
        spark, day2, cfg, "shrel",
        old_transcripts=day1.select("clip_id", "transcript"),
    )
    assert len(_SHARD_CACHES) == 1 and _SHARD_CACHES[0] is video_cache[0]
    assert release_shard_caches() == 1


# ---------------------------------------------------------------------------
# single-writer fence (VERDICT r6 item 4)
# ---------------------------------------------------------------------------

def test_fold_lock_refuses_second_writer(tmp_path):
    """Two concurrent folds on one store would interleave journal step flags
    in a way repair_fold can't untangle — the second must refuse loudly."""
    from datasketches_pig_spark.incremental import FoldLockError, _fold_lock

    base = str(tmp_path)
    with _fold_lock(base):
        with pytest.raises(FoldLockError, match="held by"):
            with _fold_lock(base):
                pass
    # released on clean exit: a new writer acquires immediately
    with _fold_lock(base):
        pass


def test_fold_lock_released_on_exception(tmp_path):
    """An in-process crash (exception) must release the fence so the next
    fold/repair can proceed — only a process death leaves the marker."""
    from datasketches_pig_spark.incremental import _fold_lock

    base = str(tmp_path)
    with pytest.raises(RuntimeError, match="boom"):
        with _fold_lock(base):
            raise RuntimeError("boom")
    assert not (tmp_path / "_fold_lock").exists()
    with _fold_lock(base):
        pass


def test_fold_lock_dead_holder_reclaimed(tmp_path):
    """A marker left by a provably-dead local process (staleness takeover
    rule, liveness branch) is reclaimed without waiting out the age rule."""
    import json
    import os
    import socket
    import subprocess
    import time

    from datasketches_pig_spark.incremental import _fold_lock

    proc = subprocess.Popen(["true"])
    proc.wait()
    dead_pid = proc.pid
    lock = tmp_path / "_fold_lock"
    lock.write_text(json.dumps(
        {"pid": dead_pid, "host": socket.gethostname(), "ts": time.time()}
    ))
    with _fold_lock(str(tmp_path)):
        holder = json.loads(lock.read_text())
        assert holder["pid"] == os.getpid()  # reclaimed, not shared


def test_fold_lock_age_takeover_and_foreign_host(tmp_path):
    """A holder whose liveness can't be probed (other host) is honored while
    fresh and reclaimed only past the staleness age."""
    import json
    import os
    import time

    from datasketches_pig_spark.incremental import FoldLockError, _fold_lock

    lock = tmp_path / "_fold_lock"
    lock.write_text(json.dumps({"pid": 1, "host": "elsewhere", "ts": 0}))
    with pytest.raises(FoldLockError):
        with _fold_lock(str(tmp_path), stale_after_s=3600):
            pass
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with _fold_lock(str(tmp_path), stale_after_s=3600):
        pass
    assert not lock.exists()


def test_fold_history_refuses_under_held_lock(spark, tmp_path):
    """The fence is wired into fold_history itself: with another writer's
    live lock on the store, the fold raises before touching any table."""
    import json
    import os
    import socket
    import time

    from datasketches_pig_spark.incremental import FoldLockError, fold_history

    (tmp_path / "_fold_lock").write_text(json.dumps(
        {"pid": os.getpid(), "host": socket.gethostname(), "ts": time.time()}
    ))
    dummy = spark.range(1).select(F.lit("c").alias("clip_id"))
    with pytest.raises(FoldLockError, match="concurrent fold"):
        fold_history(
            spark, dummy, dummy, dummy, DedupConfig(), str(tmp_path), "locked"
        )


def test_all_bands_null_band_array_keeps_exact_key(spark):
    """A NULL band array with a positive shingle count drops only its own
    modality's rows: the other modality's bands and the exact-key row
    survive (``F.concat`` of a NULL input is NULL)."""
    from datasketches_pig_spark.incremental import all_bands

    sigs = spark.createDataFrame(
        [
            ("c1", None, 5, [10, 11], 2, 99),
            ("c2", [1, 2], 3, None, 0, 98),
            ("c3", None, 4, None, 6, 97),
        ],
        "clip_id string, text_bands array<long>, n_text_shingles int, "
        "audio_bands array<long>, n_audio_shingles int, exact_key long",
    )
    got = {}
    for r in all_bands(sigs, DedupConfig()).collect():
        got.setdefault(r["clip_id"], set()).add(r["band_key"])
    assert got == {"c1": {10, 11, 99}, "c2": {1, 2, 98}, "c3": {97}}
