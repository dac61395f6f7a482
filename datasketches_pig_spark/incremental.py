"""Incremental near-duplicate detection — the daily-ingest path.

A 10^12-clip corpus is not re-deduplicated from scratch per day: the
historical state is persisted once (bucketed signature table + bounded LSH
bucket summaries + cluster assignments) and each new batch runs

    new_sigs   = signature_stage(new_clips)                 (narrow)
    new x new  = candidate_pairs(new_bands)                 (band-key exchange)
    new x old  = new_bands ⋈ band-bucket store on band_key  (co-located join)
    endpoints  = new_sigs ∪ (stored_sigs ⋉ ids of pairs)    (materialized)
    verified   = verify_pairs(pairs, endpoints)
    clusters   = union-find over {new ids} ∪ {touched OLD cluster ids}

Scale contract:
* The historical side never re-expands: old×old pairs were resolved when
  history was built; only (new, old) and (new, new) pairs are generated.
* A hot historical bucket (e.g. viral silence, 10^8 members) costs O(new
  members) — over-cap buckets link each new member only to the bucket's
  persisted ``center``, the same deterministic representative (the bucket
  minimum) the batch candidate step star-links to, so connectivity composes.
* The band-bucket store is bucketed BY band_key, the signature store by
  clip_id, so neither history read shuffles the store.  The band join is
  co-located on band_key.  The signature store is read by ONE semi join
  against the pairs' endpoint ids: planned as a co-located merge join
  (only the ids shuffle), which AQE turns into a broadcast semi join when
  the id set is small — either way one scan.  Verify's per-pair joins read
  the materialized endpoint frame (the batch + the old endpoints), never
  the store.
* Old clusters are merged through their cluster ids, not their members: the
  union-find vertex set is {new clip ids} ∪ {cluster ids of touched old
  clips} — bounded by the day's edge count, never by history size.
* Per-batch IO over history is one columnar scan of each COMPACT store
  (bucket summaries ~100 B/bucket; signatures filtered to the candidates'
  old endpoints before anything else reads them; clusters)
  — never a re-decode of raw payloads (~45 KB/clip): the scan is orders of
  magnitude smaller than re-running the pipeline, and
  ``tools/incremental_bench.py`` measures the wall-clock gap (2.3× at 94k
  history / 4.8k batch on one box; the ratio grows with history:batch).

The reference's analog is sketch-state persistence between jobs
(``sampling/DataToVarOptSketch.java:45`` / ``VarOptUnion.java:46``): persist
compact mergeable state, union new data into it later.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.operators.lsh import bucket_summaries, candidate_pairs
from datasketches_pig_spark.operators.stages import signature_stage
from datasketches_pig_spark.operators.verify import verify_pairs
from datasketches_pig_spark.store import (
    DEFAULT_BUCKETS,
    bucket_count,
    commit_json,
    save_bucketed,
)


def all_bands(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """text ∪ audio ∪ exact-key band rows — the pipeline's band layout.

    r8: ONE projection + ONE explode over a concatenated array instead of a
    3-branch union (2 explodes + a select) — same rows, one scan of the
    signature table and a third of the codegen.  Zero-shingle modalities
    contribute no band rows (they would all share one degenerate bucket);
    the exact key always rides.  ``F.concat`` is NULL when any input is, so
    each modality term is coalesced: a NULL band array drops only itself."""
    empty = F.array().cast("array<long>")
    combined = F.concat(
        F.coalesce(F.when(F.col("n_text_shingles") > 0, F.col("text_bands")), empty),
        F.coalesce(F.when(F.col("n_audio_shingles") > 0, F.col("audio_bands")), empty),
        F.array(F.col("exact_key")),
    )
    return signatures.select("clip_id", F.explode(combined).alias("band_key"))


def save_history(
    spark: SparkSession,
    signatures: DataFrame,
    clusters: DataFrame,
    cfg: DedupConfig,
    base_path: str,
    table_prefix: str,
    num_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Persist the dedup state a later incremental batch joins against:
    signatures bucketed by clip_id, bounded band-bucket summaries bucketed by
    band_key, cluster assignments bucketed by clip_id."""
    buckets = bucket_summaries(
        all_bands(signatures, cfg), "band_key", "clip_id", cfg.max_bucket_size
    )
    for name, df, key in (
        ("signatures", signatures, "clip_id"),
        ("band_buckets", buckets, "band_key"),
        ("clusters", clusters, "clip_id"),
    ):
        save_bucketed(
            df, f"{table_prefix}_{name}", f"{base_path}/{name}", key, num_buckets
        )
    # stamp the store with its config + layout version so a later fold under
    # a drifted config refuses instead of merging incompatible summaries
    if _local_dir(base_path) is not None:
        _write_store_meta(base_path, cfg)


def _local_dir(base_path: str) -> Path | None:
    """The local directory of a plain-path or ``file://`` store base (None
    for a remote scheme): every pathlib path of the store starts here, as
    ``Path("file:///tmp/x")`` is the RELATIVE path ``file:/tmp/x``."""
    if base_path.startswith("file:"):  # file:///x, file://host/x, file:/x
        return Path(urlparse(base_path).path)
    return None if "://" in base_path else Path(base_path)


def _journal_dir(base_path: str) -> str:
    return f"{base_path}/_fold_journal"


def _local_journal(base_path: str) -> Path:
    return _local_dir(base_path) / "_fold_journal"


STORE_VERSION = 1  # bump when the store layout/merge semantics change


def _store_meta_path(base_path: str) -> Path:
    return _local_dir(base_path) / "_store_meta.json"


def _write_store_meta(base_path: str, cfg: DedupConfig) -> None:
    commit_json(
        _store_meta_path(base_path),
        {"store_version": STORE_VERSION, "config_hash": cfg.config_hash()},
    )


def _check_store_meta(base_path: str, cfg: DedupConfig) -> None:
    """Refuse to fold into a store built under a different config or layout
    version — the same discipline the pipeline's resume applies
    (``pipeline.py:68``).  The band-summary merge math depends on the
    config's band layout; folding a batch computed under different bands
    would corrupt the store silently, which is strictly worse than refusing.

    A store without a meta file (written before this check existed) is
    adopted: the current config is stamped as the store's, mirroring how a
    legacy checkpoint would be treated on first resume.
    """
    import json

    p = _store_meta_path(base_path)
    if not p.exists():
        _write_store_meta(base_path, cfg)
        return
    try:
        meta = json.loads(p.read_text())
    except (json.JSONDecodeError, OSError) as e:
        raise ValueError(
            f"store meta {p} is corrupted ({e}); refusing to fold — restore "
            "or delete it only after verifying the store's config by hand"
        ) from e
    if meta.get("store_version") != STORE_VERSION:
        raise ValueError(
            f"refusing to fold: store version {meta.get('store_version')} != "
            f"supported {STORE_VERSION} (store {base_path})"
        )
    if meta.get("config_hash") != cfg.config_hash():
        raise ValueError(
            "refusing to fold: store config_hash "
            f"{meta.get('config_hash')} != current {cfg.config_hash()} "
            f"(store {base_path}) — a fold under a different band/sketch "
            "config would merge incompatible summaries; rebuild the store "
            "or use the original config"
        )


class FoldLockError(RuntimeError):
    """Another fold holds the store's writer lock (see ``_fold_lock``)."""


FOLD_LOCK_STALE_S = 3600.0  # takeover age for a lock whose holder can't be probed


@contextmanager
def _fold_lock(base_path: str, stale_after_s: float = FOLD_LOCK_STALE_S):
    """Single-writer fence for the fold journal.

    The journal protocol (below) assumes ONE folder at a time: two concurrent
    folds interleaving per-step flags would corrupt the store in a way
    ``repair_fold`` cannot untangle (each would see the other's flags as its
    own completed steps).  The fence is an ``O_CREAT|O_EXCL`` marker at
    ``{base_path}/_fold_lock`` holding ``{pid, host, ts}``; a second fold
    refuses loudly with ``FoldLockError`` instead of corrupting.

    STALENESS TAKEOVER: a crashed holder leaves the marker behind (unlike an
    in-process exception, which releases it in ``finally``).  The lock is
    reclaimed when the holder is provably dead — same host and its pid no
    longer exists — or, when liveness can't be probed (other host, corrupt
    payload), after ``stale_after_s`` seconds of marker age.  Reclaim deletes
    the marker and retries the atomic create, so two concurrent reclaimers
    settle through ``O_EXCL`` (at most one wins; the other sees the fresh
    marker and raises)."""
    import json
    import os
    import socket
    import time

    lock = _local_dir(base_path) / "_fold_lock"
    me = {"pid": os.getpid(), "host": socket.gethostname(), "ts": time.time()}
    for _ in range(8):  # bounded retries: reclaim loops can't spin forever
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            holder, probe_dead = None, False
            try:
                holder = json.loads(lock.read_text())
            except (OSError, ValueError):
                holder = None  # corrupt/vanishing payload → age rule only
            if holder and holder.get("host") == me["host"]:
                try:
                    os.kill(int(holder["pid"]), 0)
                except ProcessLookupError:
                    probe_dead = True
                except (PermissionError, ValueError, TypeError, OSError):
                    probe_dead = False
            try:
                age = time.time() - lock.stat().st_mtime
            except OSError:
                continue  # holder released between open and stat — retry
            if probe_dead or age > stale_after_s:
                try:
                    lock.unlink()
                except OSError:
                    pass
                continue
            raise FoldLockError(
                f"fold lock {lock} is held by {holder or 'an unknown writer'} "
                f"(age {age:.0f}s); a concurrent fold on one store would "
                "corrupt the journal — retry after the other fold finishes, "
                "or delete the lock only if you have verified its holder is "
                "dead"
            )
        try:
            os.write(fd, json.dumps(me).encode())
        finally:
            os.close(fd)
        try:
            yield
        finally:
            try:
                lock.unlink()
            except OSError:
                pass
        return
    raise FoldLockError(
        f"fold lock {lock} could not be acquired after repeated stale-holder "
        "reclaims — another writer keeps re-locking the store"
    )


def _require_local_base(base_path: str) -> None:
    """The fold journal's marker/flag/staged-dir bookkeeping uses the LOCAL
    filesystem (pathlib/shutil) while the data writes go through Spark's
    Hadoop path handling.  On a remote base (HDFS/object store) the recovery
    contract would silently not hold — flags would land on the driver's
    local disk and never be seen by the store.  The journaled fold is
    therefore local-parquet-mode only; an Iceberg catalog (the production
    target) replaces the journal with one atomic multi-table transaction."""
    if _local_dir(base_path) is None:
        scheme = base_path.partition("://")[0]
        raise ValueError(
            f"journaled fold requires a local base_path (got scheme "
            f"{scheme!r}): the journal's marker/flags live on the driver's "
            "local filesystem. Use an Iceberg catalog for remote storage."
        )


def _flag_path(base_path: str, name: str) -> Path:
    return _local_journal(base_path) / f"{name}.flag"


def pending_fold(base_path: str) -> dict | None:
    """The marker of an interrupted fold, or None when the store is clean.
    The marker carries the batch fingerprint ``{"n": rows, "idhash": sum of
    xxhash64(clip_id)}`` so a replayed micro-batch can recognise itself."""
    import json

    marker = _local_journal(base_path) / "marker.json"
    if marker.exists():
        try:
            return json.loads(marker.read_text())
        except (json.JSONDecodeError, OSError) as e:
            # a corrupt marker means the journal cannot be trusted — neither
            # replay-skip nor redo is safe, so this is the one state that
            # needs a human (or a deliberate journal delete), loudly
            raise ValueError(
                f"fold journal marker {marker} is corrupted ({e}); the store "
                "needs manual inspection — delete the _fold_journal dir only "
                "if you have verified the last fold completed"
            ) from e
    return None


def batch_fingerprint(sigs: DataFrame) -> dict:
    # xor-fold of the id hashes: order-independent and overflow-free (a sum
    # would overflow long under ANSI mode)
    row = sigs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(clip_id))"), F.lit(0)).alias("idhash"),
    ).collect()[0]
    return {"n": int(row["n"]), "idhash": int(row["idhash"])}


def fold_history(
    spark: SparkSession,
    new_sigs: DataFrame,
    assignments: DataFrame,
    merges: DataFrame,
    cfg: DedupConfig,
    base_path: str,
    table_prefix: str,
    _fail_after: str | None = None,
) -> None:
    """Fold one batch's state forward WITHOUT rewriting the signature
    history (the O(batch) fold the ingest loop uses):

    * signatures — APPENDED to the bucketed table (``save_bucketed`` adds
      at most one file per bucket; co-location for later verify joins is
      preserved — ``tests/test_store.py`` plan contract)
    * band-bucket summaries — merged sketch-style via
      ``lsh.merge_bucket_summaries`` (old summaries + the batch's band rows
      only; the historical band rows are never re-scanned) and rewritten —
      O(#buckets) over the COMPACT store (~100 B/bucket), not O(history)
    * clusters — merge map applied + batch assignments appended, rewritten
      (2 narrow columns, small)

    Per-batch IO is O(batch + buckets + cluster rows); the ~8 KB/clip
    signature store — the dominant history volume — is append-only.

    CRASH RECOVERY (r4): the fold is journaled.  Before any store write the
    re-fold inputs (new_sigs / assignments / merges) land in
    ``{base_path}/_fold_journal`` with a marker carrying the batch
    fingerprint; each store step then records a completion flag, and the
    merged small tables are STAGED inside the journal before their live
    overwrite (so a redo never re-merges against an already-merged table).
    A crash at any point leaves a journal from which ``repair_fold``
    completes the interrupted fold idempotently:

    * signature append — redo skipped when the batch's ids are already all
      present (job-commit atomicity makes partial visibility an error)
    * bucket/cluster overwrite — redone from the staged copy, never
      recomputed from the (possibly already-overwritten) live table

    The journal is deleted only after every step committed.  An Iceberg
    catalog collapses all of this into one atomic multi-table transaction;
    the journal is the parquet-mode equivalent.  ``_fail_after`` is a test
    hook naming a step after which to raise (crash injection).

    ENTRY GUARD: if a PREVIOUS fold's journal is still pending (any caller
    crashed without running ``repair_fold`` — not just the streaming sink),
    it is completed from its own journal before this batch's inputs are
    written.  Without the guard the stale per-step flags would silently skip
    this batch's signature append and re-apply the previous batch's staged
    tables over the live store.  A pending journal for THIS same batch
    (replay after a crash) is simply completed and the fold returns.
    """
    import shutil

    _require_local_base(base_path)
    # SINGLE-WRITER FENCE (r7): the per-step flags and staged dirs below are
    # only meaningful under one folder at a time — hold the store's writer
    # lock for the whole journal-write + fold; a concurrent fold raises
    # FoldLockError instead of interleaving flags
    with _fold_lock(base_path):
        _check_store_meta(base_path, cfg)
        journal = _journal_dir(base_path)
        pending = pending_fold(base_path)
        if pending is not None:
            if pending == batch_fingerprint(new_sigs):
                # replay of the interrupted batch itself: its inputs are
                # already journaled — just complete the fold idempotently
                _fold_steps(spark, cfg, base_path, table_prefix, _fail_after)
                return
            # a DIFFERENT batch's fold was interrupted: finish it from its
            # own journal first, then proceed with this one
            _fold_steps(spark, cfg, base_path, table_prefix, None)
        elif _local_journal(base_path).exists():
            # no marker but journal debris exists (crash mid-input-write, or
            # a partially deleted journal): stale flags/staged dirs must not
            # leak into this fold's step accounting
            shutil.rmtree(_local_journal(base_path), ignore_errors=True)
        # journal the re-fold inputs first — one extra batch-sized write,
        # the parquet-mode WAL
        new_sigs.write.mode("overwrite").parquet(f"{journal}/new_sigs")
        assignments.select("clip_id", "cluster_id").write.mode(
            "overwrite"
        ).parquet(f"{journal}/assignments")
        merges.write.mode("overwrite").parquet(f"{journal}/merges")
        commit_json(
            _local_journal(base_path) / "marker.json", batch_fingerprint(new_sigs)
        )
        _fold_steps(spark, cfg, base_path, table_prefix, _fail_after)


def repair_fold(
    spark: SparkSession, cfg: DedupConfig, base_path: str, table_prefix: str
) -> bool:
    """Complete an interrupted ``fold_history`` from its journal — the
    executable form of the documented recovery contract.  No-op (False)
    when the store is clean; True when a pending fold was completed."""
    _require_local_base(base_path)
    with _fold_lock(base_path):
        _check_store_meta(base_path, cfg)
        if pending_fold(base_path) is None:
            return False
        _fold_steps(spark, cfg, base_path, table_prefix, None)
        return True


def _fold_steps(
    spark: SparkSession,
    cfg: DedupConfig,
    base_path: str,
    table_prefix: str,
    _fail_after: str | None,
) -> None:
    import shutil

    from datasketches_pig_spark.operators.lsh import merge_bucket_summaries

    journal = _journal_dir(base_path)  # Spark path; local_journal for pathlib
    local_journal = _local_journal(base_path)
    sigs = spark.read.parquet(f"{journal}/new_sigs")

    def fail_point(name: str) -> None:
        if _fail_after == name:
            raise RuntimeError(f"fold crash injected after step {name!r}")

    # how many buckets the existing tables use is a layout constant of the
    # store; read it from the catalog rather than trusting a parameter
    nb = bucket_count(spark, f"{table_prefix}_signatures")

    # -- step 1: signature append (idempotent via presence check) ----------
    if not _flag_path(base_path, "sig_done").exists():
        store = spark.table(f"{table_prefix}_signatures")
        batch_n = sigs.count()
        present = store.join(sigs.select("clip_id"), "clip_id", "left_semi").count()
        if present == 0:
            save_bucketed(
                sigs, f"{table_prefix}_signatures", f"{base_path}/signatures",
                "clip_id", nb, mode="append",
            )
            # the append may run on a CLONED session (streaming foreachBatch
            # clones the SparkSession per micro-batch), which refreshes only
            # the clone's cached file listing — without this the parent
            # session (and the next micro-batch) keeps reading the
            # pre-append file index and silently misses the new signatures
            spark.catalog.refreshTable(f"{table_prefix}_signatures")
        elif present != batch_n:
            raise RuntimeError(
                f"fold repair: {present}/{batch_n} batch signatures visible — "
                "partial append should be impossible under job-commit "
                "atomicity; store needs manual attention"
            )
        _flag_path(base_path, "sig_done").touch()
    fail_point("signatures")

    # -- step 2: band-bucket summaries (stage inside the journal, then swap)
    staged_buckets = f"{journal}/band_buckets_staged"
    if not (local_journal / "band_buckets_staged" / "_SUCCESS").exists():
        old_buckets = spark.table(f"{table_prefix}_band_buckets")
        new_buckets = bucket_summaries(
            all_bands(sigs, cfg), "band_key", "clip_id", cfg.max_bucket_size
        )
        merge_bucket_summaries(
            old_buckets, new_buckets, cfg.max_bucket_size
        ).write.mode("overwrite").parquet(staged_buckets)
    fail_point("buckets_staged")
    if not _flag_path(base_path, "buckets_done").exists():
        save_bucketed(
            spark.read.parquet(staged_buckets), f"{table_prefix}_band_buckets",
            f"{base_path}/band_buckets", "band_key", nb,
        )
        spark.catalog.refreshTable(f"{table_prefix}_band_buckets")
        _flag_path(base_path, "buckets_done").touch()
    fail_point("buckets")

    # -- step 3: clusters (same stage-then-swap) ----------------------------
    staged_clusters = f"{journal}/clusters_staged"
    if not (local_journal / "clusters_staged" / "_SUCCESS").exists():
        assignments = spark.read.parquet(f"{journal}/assignments")
        merges = spark.read.parquet(f"{journal}/merges")
        old_clusters = spark.table(f"{table_prefix}_clusters")
        merge_map = F.broadcast(merges)
        (
            old_clusters.join(
                merge_map, old_clusters.cluster_id == merges.old_cluster_id, "left"
            )
            .select(
                "clip_id",
                F.coalesce(merge_map.cluster_id, old_clusters.cluster_id).alias(
                    "cluster_id"
                ),
            )
            .unionByName(assignments.select("clip_id", "cluster_id"))
            .write.mode("overwrite")
            .parquet(staged_clusters)
        )
    fail_point("clusters_staged")
    if not _flag_path(base_path, "clusters_done").exists():
        save_bucketed(
            spark.read.parquet(staged_clusters), f"{table_prefix}_clusters",
            f"{base_path}/clusters", "clip_id", nb,
        )
        spark.catalog.refreshTable(f"{table_prefix}_clusters")
        _flag_path(base_path, "clusters_done").touch()
    fail_point("clusters")

    # fold committed — drop the journal (marker last would be ideal; on a
    # real FS this rmtree is the single commit point since every step above
    # is a no-op once its flag exists)
    shutil.rmtree(local_journal)


@dataclass
class IncrementalResult:
    assignments: DataFrame  # (clip_id, cluster_id) for the NEW batch
    merges: DataFrame  # (old_cluster_id, cluster_id) for merged old clusters
    verified: DataFrame
    new_sigs: DataFrame | None = None  # batch signatures (for folding forward)
    stats: dict = field(default_factory=dict)


def incremental_dedup(
    spark: SparkSession,
    new_clips: DataFrame,
    cfg: DedupConfig,
    table_prefix: str,
    old_transcripts: DataFrame | None = None,
) -> IncrementalResult:
    """Dedup a new batch against itself and the persisted history.

    Returns cluster assignments for the new clips (joining an old cluster
    inherits its cluster_id; merged old clusters resolve to their min id) and
    the old-cluster merge map to apply to the history table.
    """
    stored_sigs = spark.table(f"{table_prefix}_signatures")
    band_store = spark.table(f"{table_prefix}_band_buckets")
    old_clusters = spark.table(f"{table_prefix}_clusters")

    new_sigs = signature_stage(new_clips, cfg).localCheckpoint()

    # re-ingest guard: a batch id already present in history would silently
    # alias two different clips through one union-find vertex.  The probe is
    # one co-located semi join against the bucketed store.
    clash = (
        new_sigs.select("clip_id")
        .join(stored_sigs.select("clip_id"), "clip_id", "left_semi")
        .limit(1)
        .collect()
    )
    if clash:
        raise ValueError(
            f"incremental_dedup: clip_id {clash[0]['clip_id']!r} already exists "
            "in history — batch ids must be globally unique (re-ingest?)"
        )

    new_bands = all_bands(new_sigs, cfg)

    # new×new: the standard candidate step over today's batch only
    nn = candidate_pairs(new_bands, cfg)

    # new×old: join the day's band rows against the bounded bucket store —
    # co-located on band_key; over-cap buckets star to the persisted center
    hit = new_bands.join(band_store, "band_key")
    cap = cfg.max_bucket_size
    no = hit.select(
        F.col("clip_id").alias("a"),
        F.explode(
            F.when(F.col("bucket_n") <= cap, F.col("members")).otherwise(
                F.array(F.col("center"))
            )
        ).alias("b"),
    ).filter(F.col("a") != F.col("b"))

    pairs = (
        nn.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .unionByName(
            no.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        )
        .distinct()
        # materialized: verify_pairs' size gate counts this frame, and the
        # verify joins consume it again — without the checkpoint the whole
        # candidate chain would execute twice
        .localCheckpoint()
    )

    # verify reads only the endpoints' signatures: one semi join scans the
    # store against the pairs' ids, unioned with the batch and materialized,
    # so verify's per-pair joins read this small frame and never the store;
    # the exact count lets verify broadcast it when it fits
    endpoints = pairs.select(F.col("a").alias("clip_id")).unionByName(
        pairs.select(F.col("b").alias("clip_id"))
    )
    endpoint_sigs = new_sigs.unionByName(
        stored_sigs.join(endpoints, "clip_id", "left_semi")
    ).localCheckpoint()
    transcripts = new_clips.select("clip_id", "transcript")
    if old_transcripts is not None:
        transcripts = transcripts.unionByName(
            old_transcripts.select("clip_id", "transcript")
        )
    verified = verify_pairs(
        pairs, endpoint_sigs, cfg, transcripts=transcripts,
        n_signatures=endpoint_sigs.count(),
    ).filter(F.col("is_dup")).localCheckpoint()

    # project old endpoints onto their CLUSTER ids: union-find runs over
    # {new clip ids} ∪ {touched old cluster ids} — never over history rows
    oc_a = old_clusters.select(
        F.col("clip_id").alias("a"), F.col("cluster_id").alias("ca")
    )
    oc_b = old_clusters.select(
        F.col("clip_id").alias("b"), F.col("cluster_id").alias("cb")
    )
    edges = (
        verified.select("a", "b")
        .join(oc_a, "a", "left")
        .join(oc_b, "b", "left")
        .select(
            F.coalesce("ca", F.col("a")).alias("a"),
            F.coalesce("cb", F.col("b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )

    from datasketches_pig_spark.operators.unionfind import connected_components

    new_ids = new_sigs.select("clip_id")
    touched_old = edges.select(F.col("a").alias("clip_id")).unionByName(
        edges.select(F.col("b").alias("clip_id"))
    ).distinct()
    comp = connected_components(
        edges, new_ids.unionByName(touched_old).distinct(), cfg
    ).localCheckpoint()

    assignments = comp.join(new_ids, "clip_id", "left_semi")
    merges = (
        comp.join(
            old_clusters.select(F.col("cluster_id").alias("clip_id")).distinct(),
            "clip_id",
            "left_semi",
        )
        .filter(F.col("clip_id") != F.col("cluster_id"))
        .select(F.col("clip_id").alias("old_cluster_id"), "cluster_id")
    )
    return IncrementalResult(
        assignments=assignments, merges=merges, verified=verified, new_sigs=new_sigs
    )
