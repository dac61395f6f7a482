"""The history store's layout: bucketed tables and atomic JSON commit records.

The verify stage joins candidate pairs against the signature table twice
(a-side, b-side) on ``clip_id``.  Within one job the signatures are a
checkpointed frame and the joins shuffle both sides; across JOBS — incremental
dedup, where today's new clips must be verified against the full historical
corpus — the historical signature side is the enormous one (10^12 rows at
production scale) and re-shuffling it per run is the dominant cost.

Every history table (signatures and clusters by ``clip_id``, band-bucket
summaries by ``band_key``) is written by ``save_bucketed``: hash-bucketed and
sorted within buckets — the Iceberg/Hive bucketing contract, expressed through
Spark's ``bucketBy``.  A join on the bucket key is then co-located: the stored
side is already partitioned by the key on disk, so the physical plan shuffles
ONLY the (small) probe side into the same bucketing and sort-merge-joins
bucket by bucket with no Exchange on the stored side.  ``tests/test_store.py``
asserts exactly that plan shape.  Read a table back with ``spark.table`` — a
bare parquet path read drops the bucket spec and reintroduces the shuffle.

``commit_json`` is the one writer of the JSON commit records (the pipeline's
checkpoint manifest, the store meta and the fold journal's marker): a crash
leaves either the previous record or the new one, never a truncated file.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 64


def save_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    num_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as table ``table`` at ``path``, hash-bucketed and sorted
    by ``key`` (``mode`` "overwrite" or "append").

    ``num_buckets`` is a layout constant for the table's lifetime (appends
    must pass ``bucket_count`` of the existing table): pick ~(cluster cores ×
    small factor) at production scale.  The frame is hash-repartitioned to
    ``(num_buckets, key)`` first — the same hash the bucket id uses — so each
    bucket's rows sit in one partition and a write emits at most
    ``num_buckets`` files, not input tasks × buckets.  This is the one place
    the package pins an exchange width, and the width is the table's bucket
    count.  The narrow ``coalesce`` to the session's parallelism then merges
    whole partitions, never splits one, so the bound holds while the write
    runs one task per core instead of one per bucket (at 64 buckets on 2
    cores, one task per bucket made a small write ~3x slower).  The bucket
    spec lives in the session catalog (Iceberg: a ``bucket(N, key)``
    partition transform carries it in the table itself).
    """
    (
        df.repartition(num_buckets, key)
        .coalesce(df.sparkSession.sparkContext.defaultParallelism)
        .write.mode(mode)
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def bucket_count(spark: SparkSession, table: str) -> int:
    """The bucket count of a table written by ``save_bucketed``, read from
    the catalog."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r["col_name"] == "Num Buckets":
            return int(r["data_type"])
    raise ValueError(f"table {table} has no bucket spec")


def commit_json(path, obj) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: dump to a sibling tmp
    file, then ``os.replace`` it over the target."""
    tmp = f"{os.fspath(path)}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)
