"""Bucketed signature store — co-located joins across jobs.

The verify stage joins candidate pairs against the signature table twice
(a-side, b-side) on ``clip_id``.  Within one job the signatures are a
checkpointed frame and the joins shuffle both sides; across JOBS — incremental
dedup, where today's new clips must be verified against the full historical
corpus — the historical signature side is the enormous one (10^12 rows at
production scale) and re-shuffling it per run is the dominant cost.

Persisting the signatures **bucketed by clip_id** (hash-bucketed, sorted
within buckets — the Iceberg/Hive bucketing contract, expressed through
Spark's ``bucketBy``) makes that join co-located: the stored side is already
partitioned by the join key on disk, so the physical plan shuffles ONLY the
(small) candidate side into the same bucketing and sort-merge-joins bucket by
bucket with no Exchange on the stored side.  ``tests/test_store.py`` asserts
exactly that plan shape.

At 1000 executors this is the difference between moving ~8 TB of KMV
sketches per incremental run and moving only the day's candidates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 64


def save_signatures_bucketed(
    signatures: DataFrame,
    table: str,
    path: str,
    num_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Write the signature table hash-bucketed + sorted by clip_id.

    ``num_buckets`` is a layout constant for the table's lifetime: pick
    ~(cluster cores × small factor) at production scale.  The writer is the
    same parquet writer the checkpoint store uses; bucketing metadata lives
    in the session catalog (Iceberg: ``bucket(N, clip_id)`` partition
    transform carries it in the table itself).
    """
    (
        signatures.write.mode("overwrite")
        .bucketBy(num_buckets, "clip_id")
        .sortBy("clip_id")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def load_signatures_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read back with bucketing metadata intact (``spark.table``, not a bare
    parquet path read — a path read would discard the bucket spec and
    reintroduce the shuffle)."""
    return spark.table(table)
