"""LSH candidate-pair generation — pure DataFrame algebra, no Python in the
hot path.

**The distinct-candidate step** (``candidate_pairs``: ``run_pipeline`` and
incremental new×new; ``lsh_candidates``: text MinHash/SimHash, image dHash,
audio and embedding RHP) exchanges the ``(key, id)`` band rows once, by key:

* A window over the key gives each row its bucket size ``n`` (band rows,
  repeated ``(key, id)`` rows included) and the bucket minimum.
* Rows with ``2 ≤ n ≤ cap`` self-join on the key with ``a < b`` (a merge
  join over the window's partitioning and order): exact all-pairs, at most
  cap² rows per key.
* Rows with ``n > cap`` star-link to the bucket minimum: n−1 pairs, and
  union-find connectivity through the center.  It is the same center
  ``bucket_summaries`` persists and incremental new×old links to.
* One distinct on (a, b) closes the step (the caller's, for
  ``candidate_pairs``).

The non-null key filter sits below the window, so every consumer of the band
rows has the same subtree: the rows are written to shuffle once and the other
consumers read a ``ReusedExchange``.  The upstream lineage (for document
dedup, the whole Arrow minhash pass) therefore runs once without a cache.

Scale trade (the part that must survive 1000 executors × 100 TB): all rows of
a hot key meet in one window task.  That task's buffer spills
(``spark.sql.windowExec.buffer.in.memory.threshold`` /
``spill.threshold``), so its memory stays bounded; the self-join never sees a
hot key, so it stays bounded too.  AQE skew splitting does not apply to the
window stage: a hot key costs one task O(n) streamed rows.  The salted
expansion below spread those rows 16 ways, but each shard held its ids in a
``collect_list`` that cannot spill.  The invariant: no unspillable per-key
state, and no join on a key with more than cap rows.

**The salted two-level expansion** (``_salted_pairs``) stays only behind
``bucket_pairs``, for ``video_near_pairs``, which counts non-distinct pairs
and reuses the persisted shard frame across queries.  Members are salted into
``SALT_SHARDS`` shards; per-reducer state is bounded by
``bucket_size / SALT_SHARDS`` at level 1 and by ``SALT_SHARDS × (cap + 1)``
at level 2.  Level 1 star-links oversized shards to the shard center; level 2
expands all-pairs for buckets ≤ cap and star-links the rest through the
bucket center, inside codegen'd array expressions.  ``bucket_summaries``
(the ``save_history`` / fold path) keeps the same two-level shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from datasketches_pig_spark.config import DedupConfig

SALT_SHARDS = 16

# shard frames persisted by _salted_pairs (only ``bucket_pairs`` reaches it),
# released by release_shard_caches().  The persist is load-bearing (two
# consumers below must not re-run the upstream lineage, CLAUDE.md landmine
# #6) and doubles as video's cross-query cache: ``video_near_pairs`` never
# releases, and repeated MJPEG dedup passes read it.  ``lsh_candidates``
# releases at its own start, which bounds a mixed session's residue to the
# caches of the video queries since the last near-dup query.
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


def _band_pairs(keyed: DataFrame, key: str, id_col: str, cap: int) -> DataFrame:
    """(key, id) rows → (a, b) pairs with a < b, not distinct: all pairs in
    a bucket of 2..cap rows, a star to the bucket minimum above cap (see the
    module docstring).  Null keys pair nothing."""
    rows = keyed.select(key, F.col(id_col).alias("id")).filter(
        F.col(key).isNotNull()
    )
    w = Window.partitionBy(key)
    sized = rows.select(
        key,
        "id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.min("id").over(w).alias("center"),
    )
    small = sized.filter(F.col("n").between(2, cap))
    # merge join: the window output is already partitioned and sorted by
    # key, so the join adds no exchange, no sort and no broadcast job, and
    # buffers at most cap rows per key (a hash join would hold a whole
    # partition's build side in memory)
    all_pairs = (
        small.select(key, F.col("id").alias("a"))
        .hint("merge")
        .join(small.select(key, F.col("id").alias("b")), key)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    stars = (
        sized.filter(F.col("n") > cap)
        .select(F.col("center").alias("a"), F.col("id").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    return all_pairs.unionByName(stars)


def lsh_candidates(sigs: DataFrame, keys: Column, cap: int) -> DataFrame:
    """(id, …) signature rows + an array-of-LSH-keys column → distinct
    (a, b) candidate pairs with a < b: the one candidate step of the
    near-dup operators (MinHash bands, Manku SimHash combos, audio bands).
    The frame is lazy: its consumer is usually a single verify join, so no
    barrier.

    The step caches nothing.  It releases the shard caches of earlier
    ``bucket_pairs`` calls at its start all the same: a session that mixes
    video and near-dup queries then holds at most the video caches since
    its last near-dup query.

    Recall contract: complete while no key bucket exceeds ``cap``.  Keys are
    64-bit hashes of whole bands / fingerprint blocks, so an over-cap bucket
    means > cap rows agree on a full band — a mass-duplicate cluster, where
    the expansion star-links to the bucket minimum and the downstream verify
    may drop borderline (non-center) pairs; pair recall above the cap is
    approximate (a missed pair must land over cap in every key it shares)."""
    release_shard_caches()
    keyed = sigs.select(F.explode(keys).alias("lsh_key"), "id")
    return _band_pairs(keyed, "lsh_key", "id", cap).distinct()


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
    return _band_pairs(bands, "band_key", "clip_id", cfg.max_bucket_size)
