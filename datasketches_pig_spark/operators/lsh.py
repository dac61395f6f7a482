"""LSH candidate-pair generation — pure DataFrame algebra, no Python in the
hot path.

Scale design (the part that must survive 1000 executors × 100 TB):

* **Salted two-level aggregation.**  A naive ``groupBy(band_key)`` puts an
  entire bucket's member list on one reducer — a pathological bucket (10^8
  byte-identical silence clips all sharing every band) would concentrate
  gigabytes on a single task.  Members are therefore salted into
  ``SALT_SHARDS`` shards first; per-reducer state is bounded by
  ``bucket_size / SALT_SHARDS`` at level 1 and by
  ``SALT_SHARDS × (cap + 1)`` at level 2, no matter how hot the key.
* Pair expansion happens inside whole-stage-codegen'd array expressions
  (nested ``transform``/``slice``) — no self-join, no bucket-size side table.
* **Hot buckets** degrade to *star links*: every member pairs with a center
  instead of all-pairs (O(n), connectivity through the center preserved for
  union-find).  Level 1 star-links oversized shards to the shard center
  immediately; level 2 links shard centers through the bucket center, so an
  arbitrarily hot bucket costs O(n) pairs and O(n/S) peak memory.
* Buckets at or below ``max_bucket_size`` still get exact all-pairs: a small
  bucket is never truncated at level 1 (shard ≤ bucket ≤ cap), so level 2
  sees its complete member list.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from datasketches_pig_spark.config import DedupConfig

SALT_SHARDS = 16

# shard frames persisted by _salted_pairs, released by release_shard_caches():
# the persist is load-bearing (two consumers below must not re-run the
# upstream Arrow signature lineage — CLAUDE.md landmine #6) but the pairs
# frame is returned lazily, so the cache cannot be dropped inside the
# operator without forcing eager evaluation of a potentially huge pre-
# distinct pair stream.  NOTE a single query may call _salted_pairs more
# than once before consuming anything, so the release is NOT automatic here;
# top-level operators call release_shard_caches() once their candidates are
# materialized (or at their own start, bounding a long-lived session's
# residue to the last query's caches).
_SHARD_CACHES: list[DataFrame] = []


def release_shard_caches() -> int:
    """Unpersist every shard frame cached by earlier ``_salted_pairs`` calls.
    Safe at any time: unpersisting only drops the cache — a still-lazy pairs
    frame would recompute from lineage, and materialized consumers
    (localCheckpoint) no longer reference it at all.  Returns the number of
    caches released."""
    n = 0
    while _SHARD_CACHES:
        _SHARD_CACHES.pop().unpersist()
        n += 1
    return n


def _all_pairs(m: Column) -> Column:
    """members (sorted array) → array<struct<a,b>> of all pairs a < b."""
    return F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)), lambda y: F.struct(x.alias("a"), y.alias("b"))
            ),
        )
    )


def _star_pairs(m: Column) -> Column:
    """members (sorted array) → array<struct<a,b>> pairing min with the rest."""
    center = F.element_at(m, 1)
    return F.transform(
        F.slice(m, 2, F.size(m)),
        lambda y: F.struct(center.alias("a"), y.alias("b")),
    )


def _star_pairs_unsorted(m: Column) -> Column:
    """Star pairs without requiring a sorted array: center = array_min
    (member ids are unique within a bucket, so the filter drops exactly the
    center).  Saves sorting arbitrarily large level-1 shard lists."""
    center = F.array_min(m)
    return F.transform(
        F.filter(m, lambda y: y != center),
        lambda y: F.struct(center.alias("a"), y.alias("b")),
    )


def _expand(df: DataFrame, pairs: Column) -> DataFrame:
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )


def _salted_pairs(keyed: DataFrame, key: str, cap: int) -> DataFrame:
    """(key, clip_id) rows → (a, b) pairs with per-reducer state bounded by
    salting: all-pairs for buckets ≤ cap, star links above it.  Exchange
    widths are the session's ``spark.sql.shuffle.partitions``: pinning one
    with ``repartition(n, keys)`` would move each aggregation's partial
    aggregate above its exchange."""
    salted = keyed.withColumn(
        "__salt", F.pmod(F.xxhash64("clip_id"), F.lit(SALT_SHARDS))
    )
    # level-1 lists stay unsorted — only the bounded level-2 arrays are
    # sorted; the shard star needs just the min element.  persist(): two
    # consumers below (shard stars + level-2 summaries) must not re-run the
    # upstream lineage — for document dedup that lineage is the whole Arrow
    # minhash pass (lazy cache, populated by the first action); released
    # via release_shard_caches() (see _SHARD_CACHES above)
    shards = salted.groupBy(key, "__salt").agg(
        F.collect_list("clip_id").alias("m"),
        F.count(F.lit(1)).alias("sz"),
    ).persist()
    _SHARD_CACHES.append(shards)

    # level-1: oversized shards immediately star-link to the shard center and
    # forward only the center; intact shards forward their full member list
    truncated = F.col("sz") > cap + 1
    shard_stars = _expand(
        shards.filter(truncated), _star_pairs_unsorted(F.col("m"))
    )
    summaries = shards.select(
        key,
        F.when(truncated, F.array(F.array_min("m"))).otherwise(F.col("m")).alias("m"),
        "sz",
    )

    # level-2: per-bucket totals; state ≤ SALT_SHARDS × (cap + 1) members
    buckets = summaries.groupBy(key).agg(
        F.array_sort(F.flatten(F.collect_list("m"))).alias("members"),
        F.sum("sz").alias("bucket_n"),
    ).filter(F.col("bucket_n") >= 2)

    members = F.col("members")
    bucket_pairs = _expand(
        buckets,
        F.when(F.col("bucket_n") <= cap, _all_pairs(members)).otherwise(
            _star_pairs(members)
        ),
    )

    return bucket_pairs.unionByName(shard_stars)


def bucket_pairs(keyed: DataFrame, key: str, id_col: str, cap: int) -> DataFrame:
    """Public form of the salted bucket-pair expansion for any (key, id)
    frame — used by the document-dedup operators too.  Returns (a, b) with
    a < b, not distinct."""
    renamed = keyed.select(F.col(key), F.col(id_col).alias("clip_id"))
    return _salted_pairs(renamed, key, cap)


def bucket_summaries(keyed: DataFrame, key: str, id_col: str, cap: int) -> DataFrame:
    """(key, id) rows → one bounded summary row per bucket:
    ``(key, members array ≤ cap+1, bucket_n, center)`` — the persistable
    bucket state an incremental job joins new members against.

    Same two-level salted shape as ``_salted_pairs`` (level-1 per (key, salt)
    bounds reducer state to bucket/SALT_SHARDS; oversized shards forward only
    their min member; level-2 state ≤ SALT_SHARDS × (cap+1) members), so an
    arbitrarily hot bucket summarizes in O(n) with bounded memory.  For
    buckets ≤ cap the members list is complete; above cap it is a bounded
    sample plus the exact count and the deterministic center (global min id —
    the same center ``_star_pairs`` links through, so incremental star-links
    attach to the identical representative)."""
    salted = keyed.select(
        F.col(key), F.col(id_col).alias("clip_id")
    ).withColumn("__salt", F.pmod(F.xxhash64("clip_id"), F.lit(SALT_SHARDS)))
    shards = salted.groupBy(key, "__salt").agg(
        F.collect_list("clip_id").alias("m"),
        F.count(F.lit(1)).alias("sz"),
    )
    truncated = F.col("sz") > cap + 1
    summaries = shards.select(
        key,
        F.when(
            truncated, F.slice(F.array_sort("m"), 1, cap + 1)
        ).otherwise(F.col("m")).alias("m"),
        "sz",
    )
    return (
        summaries.groupBy(key)
        .agg(
            F.slice(F.array_sort(F.flatten(F.collect_list("m"))), 1, cap + 1).alias(
                "members"
            ),
            F.sum("sz").alias("bucket_n"),
        )
        .select(
            key,
            "members",
            "bucket_n",
            F.element_at("members", 1).alias("center"),
        )
    )


def merge_bucket_summaries(old: DataFrame, new: DataFrame, cap: int) -> DataFrame:
    """Merge two bucket-summary tables (full outer on band_key) WITHOUT
    re-reading the raw band rows — bucket summaries are a mergeable sketch:

    * ``bucket_n``   — exact counts add
    * ``members``    — the smallest ``cap+1`` of the union of the two
                       (each side keeps its smallest cap+1, so the merged
                       smallest cap+1 is recoverable from samples alone)
    * ``center``     — min member; preserved because each side's sample
                       always contains its own minimum

    Semantics equal a from-scratch ``bucket_summaries`` over all band rows
    for every consumer: a bucket with merged ``bucket_n <= cap`` was
    under-cap on both sides, so both member lists were complete and the
    merged list is complete; an over-cap bucket is only ever consulted for
    ``center``.  This is what makes an O(batch) incremental fold possible —
    the band-row history is never re-scanned."""
    o = old.select(
        "band_key",
        F.col("members").alias("__om"),
        F.col("bucket_n").alias("__on"),
    )
    nw = new.select(
        "band_key",
        F.col("members").alias("__nm"),
        F.col("bucket_n").alias("__nn"),
    )
    empty = F.array().cast(old.schema["members"].dataType.simpleString())
    merged_members = F.slice(
        F.array_sort(
            F.concat(F.coalesce("__om", empty), F.coalesce("__nm", empty))
        ),
        1,
        cap + 1,
    )
    return (
        o.join(nw, "band_key", "full_outer")
        .select(
            "band_key",
            merged_members.alias("members"),
            (
                F.coalesce("__on", F.lit(0)) + F.coalesce("__nn", F.lit(0))
            ).alias("bucket_n"),
        )
        .withColumn("center", F.element_at("members", 1))
    )


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(clip_id, band_key) → candidate (a, b) pairs with a < b (NOT distinct:
    the caller dedupes once).  The exact-payload key rides ``bands`` as one
    more band row per clip (``incremental.all_bands``)."""
    return _salted_pairs(bands, "band_key", cfg.max_bucket_size)
