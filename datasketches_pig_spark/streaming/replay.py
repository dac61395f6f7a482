"""Deterministic multi-micro-batch replay harness.

Drives a *genuinely stateful* streaming operator
(``ops.streaming_replay_stats``, ``applyInPandasWithState``) over a batch
events table in a way that is deterministic enough to hash-check against a
plain ANSI-SQL oracle:

1. the table is split into ``n_slices`` deterministic slices by
   ``event_id % n_slices`` and written as one parquet file each;
2. a file-source stream with ``maxFilesPerTrigger=1`` + ``availableNow``
   replays them as (at least) ``n_slices`` micro-batches through the
   stateful operator into a memory sink;
3. the final per-key state is recovered order-independently: cumulative
   ``n_events`` is strictly increasing across a key's emissions, so the
   struct-max per key IS the last emission — no dependence on which slice
   a micro-batch happened to process first.

The result equals ``SELECT event_type, COUNT(*), SUM(value),
COUNT(DISTINCT user_id) ... GROUP BY event_type`` over the whole table
IFF state survives every micro-batch boundary, which is exactly what the
registry gate (``streaming_replay``) pins.  On a real cluster the same
operator runs over the live source (Kafka / file drop) — the slicing here
only exists to force a deterministic multi-batch replay of a static table.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datasketches_pig_spark.streaming.ops import streaming_replay_stats


def replay_events(
    spark: SparkSession,
    events: DataFrame,
    n_slices: int = 6,
    k: int = 1024,
    seed: int = 9001,
) -> DataFrame:
    """Replay ``events`` (event_id, ts, user_id, event_type, value, …)
    through the stateful per-type accumulator in ``n_slices`` micro-batches;
    returns the final (event_type, n_events, sum_value, distinct_users)."""
    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    base = tempfile.mkdtemp(prefix="dsps_replay_", dir=tmp_root)
    try:
        return _replay_events(spark, events, n_slices, k, seed, base)
    finally:
        # /dev/shm doubles as spark.local.dir — leaking slices + stream +
        # checkpoint there (and the memory-sink table in driver memory, in
        # _replay_events) would accumulate across every gate/bench run
        shutil.rmtree(base, ignore_errors=True)


def _replay_events(
    spark: SparkSession,
    events: DataFrame,
    n_slices: int,
    k: int,
    seed: int,
    base: str,
) -> DataFrame:
    stream_dir = os.path.join(base, "stream")
    os.makedirs(stream_dir)
    # ONE scan + one shuffle for all slices (was: n_slices filtered scans):
    # repartitioning BY the slice value puts every slice's rows into exactly
    # one task, partitionBy splits hash-colliding slices into their own
    # directories, and the event_id sort pins a deterministic row order.
    # r8: only the columns the stateful op consumes (plus event_id for the
    # deterministic sort) are sliced/replayed — the raw table also carries
    # ts + a props payload the stream never reads (guide §2.3: project
    # before the exchange; the write, the per-trigger getBatch scan and the
    # Arrow transfer all shrink with it)
    events = events.select("event_id", "event_type", "user_id", "value")
    slices_dir = os.path.join(base, "slices")
    (
        events.withColumn(
            "slice", F.pmod(F.col("event_id"), F.lit(n_slices))
        )
        .repartition(n_slices, "slice")
        .sortWithinPartitions("slice", "event_id")
        .write.partitionBy("slice")
        .mode("overwrite")
        .parquet(slices_dir)
    )
    for i in range(n_slices):
        parts = glob.glob(os.path.join(slices_dir, f"slice={i}", "part-*.parquet"))
        if not parts:
            continue  # empty slice writes no directory: nothing to replay
        (part,) = parts
        shutil.copy(part, os.path.join(stream_dir, f"{i:04d}.parquet"))

    # the stream runs in its own session, so the caller's conf is never
    # touched.  Every micro-batch pays a state-store load/commit PER SHUFFLE
    # PARTITION and the per-type state op has a handful of keys: one state
    # partition (baked into the fresh checkpoint at batch 0; state still
    # crosses every batch boundary) plus no no-data micro-batches cut the
    # replay 4.0–5.1 s → 2.7–3.1 s warm at hash-identical output (sf0.1,
    # 32 cores).  The remaining wall is the engine's per-trigger floor
    # (~650 ms/batch: addBatch ~500 ms of which state commit ~400 ms, plus
    # offset/WAL logs + planning ~170 ms) — async progress tracking would
    # hide the log writes but is incompatible with availableNow.
    stream = spark.newSession()
    stream.conf.set("spark.sql.shuffle.partitions", "1")
    stream.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    src = (
        stream.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("event_type", "user_id", "value")
    )
    out = streaming_replay_stats(src, k=k, seed=seed)
    qname = f"replay_{uuid.uuid4().hex[:12]}"
    query = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    emitted = stream.table(qname)
    # last emission per key = struct-max on the strictly-increasing n_events
    final = (
        emitted.groupBy("event_type")
        .agg(
            F.max(F.struct("n_events", "sum_value", "distinct_users")).alias("m")
        )
        .select(
            "event_type",
            F.col("m.n_events").alias("n_events"),
            F.col("m.sum_value").alias("sum_value"),
            F.col("m.distinct_users").alias("distinct_users"),
        )
    )
    # the memory sink pins every emission in driver memory under qname; the
    # final state is a handful of per-type rows, so materialize it (bounded,
    # justified collect) and release the sink before returning
    rows = final.collect()
    stream.catalog.dropTempView(qname)
    return spark.createDataFrame(rows, final.schema)
