"""Streaming ingest-time near-duplicate detection.

``streaming/ops.py`` gives exact first-seen dedup (per-key state via
``applyInPandasWithState``); this module adds NEAR-dup at ingest: a
``readStream`` of new clips is consumed in micro-batches, and each batch runs
the full incremental path (``incremental.incremental_dedup``) against the
persisted history stores — then the batch's signatures, bucket rows and
cluster assignments are folded back into the stores so the NEXT micro-batch
dedups against everything seen so far.

This is the production shape for a 10^12-clip ingest firehose: state lives in
the bucketed tables (Iceberg in production), not in executor memory, so
stream restarts resume from the store exactly like the batch pipeline resumes
from its checkpoint manifest.  ``foreachBatch`` (not a stateful operator)
because near-dup state — LSH buckets keyed by 64-bit band hashes — is
table-shaped, and each micro-batch needs multi-stage joins against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datasketches_pig_spark.config import DedupConfig


def streaming_ingest_dedup(
    spark: SparkSession,
    clips_stream: DataFrame,
    cfg: DedupConfig,
    table_prefix: str,
    base_path: str,
    assignments_sink: str,
    checkpoint_dir: str,
    transcript_store: str | None = None,
):
    """Attach incremental near-dup to a streaming clips source.

    Per micro-batch: signature pass → candidates vs (batch ∪ history bucket
    store) → verify → cluster assignment; assignments append to
    ``assignments_sink`` (clip_id, cluster_id, batch_id) and the history
    stores are folded forward.  Returns the StreamingQuery.

    ``transcript_store``: optional parquet path of historical
    ``(clip_id, transcript)`` rows.  When given, cross-batch borderline
    pairs recover the batch pipeline's substring-containment check (streamed
    cluster state then matches the from-scratch batch run even on borderline
    near-dups), and each batch's transcripts are appended so later batches
    see them.  When None, cross-batch borderline pairs skip the substring
    check (``substr_ok=False``) — the documented verify contract for a
    missing transcript source.
    """
    from datasketches_pig_spark.incremental import incremental_dedup

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from datasketches_pig_spark.incremental import fold_history, repair_fold

        batch_df = batch_df.localCheckpoint()
        if not batch_df.take(1):
            return
        # crash recovery: complete any fold interrupted by a previous crash
        # from its journal BEFORE touching the stores (idempotent; no-op on
        # a clean store)
        repair_fold(spark, cfg, table_prefix=table_prefix, base_path=base_path)
        # replay-skip: a restarted stream re-delivers the last uncommitted
        # micro-batch; if its clips are already fully folded the batch
        # completed before the crash — skip it instead of tripping the
        # re-ingest guard (partial presence still raises there: that state
        # is beyond journaled recovery and must be looked at)
        ids = batch_df.select("clip_id").distinct().localCheckpoint()
        n_ids = ids.count()
        present = (
            spark.table(f"{table_prefix}_signatures")
            .join(ids, "clip_id", "left_semi")
            .count()
        )
        if present == n_ids:
            return
        old_transcripts = None
        if transcript_store is not None:
            from pyspark.errors import AnalysisException

            try:
                old_transcripts = spark.read.parquet(transcript_store)
            except AnalysisException:
                # first batch: store not created yet (PATH_NOT_FOUND).  Only
                # this case may silently downgrade the cross-batch substring
                # check — corruption/permission errors must propagate, or
                # streamed cluster state could diverge from the batch run
                # without any signal
                old_transcripts = None
        inc = incremental_dedup(
            spark,
            batch_df,
            cfg,
            table_prefix,
            old_transcripts=old_transcripts,
        )
        assignments = inc.assignments.localCheckpoint()
        # hive-style per-batch partition dir with overwrite: a replayed
        # batch that crashed after this write but before the fold journal
        # existed re-lands on the same path instead of appending duplicates
        # (readers of the sink root see batch_id as a partition column)
        (
            assignments.write.mode("overwrite")
            .parquet(f"{assignments_sink}/batch_id={batch_id}")
        )
        # fold the batch into the stores: per-batch IO is O(batch + buckets
        # + cluster rows) — signatures APPEND, bucket summaries merge
        # sketch-style — and the fold is journaled, so repair_fold above
        # completes an interrupted one (see fold_history)
        fold_history(
            spark, inc.new_sigs, assignments, inc.merges.localCheckpoint(),
            cfg, base_path, table_prefix,
        )
        if transcript_store is not None:
            (
                batch_df.select("clip_id", "transcript")
                .write.mode("append")
                .parquet(transcript_store)
            )

    return (
        clips_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
