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
# distinct pair stream.  ``lsh_candidates`` releases the previous query's
# caches at its own start (bounding a long-lived session's residue to the
# last query's caches); callers that materialize their candidates (pipeline,
# incremental, minhash) release right after.  ``bucket_pairs`` never
# releases: video's shard cache doubles as a cross-query cache.
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
    frame.  Returns (a, b) with a < b, not distinct, and leaves the shard
    cache registered (``video_near_pairs`` counts the repeated pairs and
    reuses the cache across queries)."""
    renamed = keyed.select(F.col(key), F.col(id_col).alias("clip_id"))
    return _salted_pairs(renamed, key, cap)


def lsh_candidates(sigs: DataFrame, keys: Column, cap: int) -> DataFrame:
    """(id, …) signature rows + an array-of-LSH-keys column → distinct
    (a, b) candidate pairs with a < b: the one candidate step of the
    near-dup operators (MinHash bands, Manku SimHash combos, audio bands).

    Releases the previous query's shard caches first; this query's cache
    stays registered until the caller materializes its candidates and
    releases, or the next call here does (bounded residue) — so a query
    that builds two candidate frames must materialize the first before
    building the second, or the first recomputes its shards.  The frame
    is lazy: its consumer is usually a single verify join, so no barrier.

    Recall contract: complete while no key bucket exceeds ``cap``.  Keys are
    64-bit hashes of whole bands / fingerprint blocks, so an over-cap bucket
    means > cap rows agree on a full band — a mass-duplicate cluster, where
    the salted expansion star-links and the downstream verify may drop
    borderline (non-center) pairs; pair recall above the cap is approximate
    (a missed pair must land over cap in every key it shares)."""
    release_shard_caches()
    keyed = sigs.select(
        F.explode(keys).alias("lsh_key"), F.col("id").alias("clip_id")
    )
    return _salted_pairs(keyed, "lsh_key", cap).distinct()


def hamming_near_pairs(
    sigs: DataFrame, keys: Column, max_hamming: int, cap: int
) -> DataFrame:
    """(id, simhash, …) rows → (a, b, hamming) pairs within ``max_hamming``
    bits: ``lsh_candidates`` over the Manku combo ``keys``, then the exact
    JVM ``bit_count(xor)`` verify (never Python)."""
    cand = lsh_candidates(sigs, keys, cap)
    sa = sigs.select(F.col("id").alias("a"), F.col("simhash").alias("sim_a"))
    sb = sigs.select(F.col("id").alias("b"), F.col("simhash").alias("sim_b"))
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# Manku-style block keys (WWW'07 near-duplicate detection).  For a Hamming
# budget h, split the 64 bits into h+3 blocks; any pair within Hamming <= h
# leaves >= 3 blocks untouched, so it shares at least one choose(h+3, 3)
# concatenated 3-block key exactly.  h=3 → 6 blocks / 20 combos / ~32-bit
# keys (the classic setting); larger h trades explode factor C(h+3,3) and
# coarser keys for the wider guarantee.


def _simhash_blocks(max_hamming: int) -> tuple[tuple[int, ...], tuple[int, ...]]:
    if not (1 <= max_hamming <= 13):
        raise ValueError(
            f"simhash banding: max_hamming must be in [1, 13], got {max_hamming}"
        )
    n_blocks = max_hamming + 3
    base, extra = divmod(64, n_blocks)
    bits = tuple(base + (1 if i < extra else 0) for i in range(n_blocks))
    offs = tuple(sum(bits[:i]) for i in range(n_blocks))
    return bits, offs


def simhash_combo_key_array(sim_col, max_hamming: int = 3):
    """The C(h+3,3) Manku combo keys as ONE ``transform`` over a literal
    array of bit-packed combo specs — a single small expression tree whose
    lambda codegen-compiles once, instead of C(h+3,3) separate shift/mask
    expression trees (at h=4 that is 35 trees, a measurable per-session
    whole-stage-codegen compile tax); key VALUES are identical to the numpy
    ``simhash_combo_keys_np``, parity-tested in tests/test_signatures.py.

    Packing per combo (one int64): block offsets o1..o3 (6 bits each),
    block widths w1..w3 (5 bits each), accumulated shifts s2, s3 (6 bits
    each); the combo index comes from the transform lambda's position
    argument."""
    from itertools import combinations

    bits, offs = _simhash_blocks(max_hamming)
    key_bits = 3 * max(bits)
    packed = []
    for b1, b2, b3 in combinations(range(len(bits)), 3):
        packed.append(
            offs[b1]
            | offs[b2] << 6
            | offs[b3] << 12
            | bits[b1] << 18
            | bits[b2] << 23
            | bits[b3] << 28
            | bits[b1] << 33
            | (bits[b1] + bits[b2]) << 39
        )

    def _field(c, shift, width):
        return F.shiftright(c, shift).bitwiseAND(F.lit((1 << width) - 1)).cast("int")

    def _blk(c, off_sh, w_sh):
        o = _field(c, off_sh, 6)
        w = _field(c, w_sh, 5)
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), w) - F.lit(1).cast(
            "long"
        )
        return F.call_function("shiftright", sim_col, o).bitwiseAND(mask)

    def _key(c, i):
        s2 = _field(c, 33, 6)
        s3 = _field(c, 39, 6)
        key = (
            _blk(c, 0, 18)
            + F.call_function("shiftleft", _blk(c, 6, 23), s2)
            + F.call_function("shiftleft", _blk(c, 12, 28), s3)
        )
        return key + F.shiftleft(i.cast("long"), key_bits + 1)

    return F.transform(F.array(*[F.lit(p).cast("long") for p in packed]), _key)


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
