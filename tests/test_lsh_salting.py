"""Hot-bucket candidate generation: salted two-level aggregation must keep
pair count O(n) (star links), preserve connectivity, and keep exact all-pairs
for small buckets."""

import pyspark.sql.functions as F

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.operators.lsh import candidate_pairs
from datasketches_pig_spark.operators.unionfind import connected_components


def test_hot_bucket_stays_linear_and_connected(spark):
    cfg = DedupConfig()
    hot = spark.range(3000).select(
        F.format_string("clip_%07d", F.col("id")).alias("clip_id"),
        F.lit(424242).alias("band_key"),
    )
    small = spark.range(5).select(
        F.format_string("s_%02d", F.col("id")).alias("clip_id"),
        F.lit(777).alias("band_key"),
    )
    bands = hot.unionByName(small)
    pairs = candidate_pairs(bands, cfg).distinct()
    n = pairs.count()
    # hot bucket: O(n) star links (n-1 level-2 + <= n level-1 shard stars),
    # nowhere near the 4.5M all-pairs; small bucket: exact C(5,2)=10
    assert n <= 2 * 3000 + 10, n
    small_pairs = pairs.filter(F.col("a").startswith("s_")).count()
    assert small_pairs == 10
    # connectivity: every hot member reaches every other through the stars
    hot_edges = pairs.filter(~F.col("a").startswith("s_"))
    vertices = hot.select("clip_id")
    comp = connected_components(hot_edges, vertices)
    assert comp.select("cluster_id").distinct().count() == 1


def test_bucket_summaries_invariants(spark):
    """bucket_n exact, center == global min, members complete iff <= cap+1,
    members always sorted and bounded — including buckets far above cap."""
    import random

    import pyspark.sql.functions as F

    from datasketches_pig_spark.operators.lsh import bucket_summaries

    rng = random.Random(7)
    rows = []
    sizes = {1: 1, 2: 2, 3: 9, 4: 10, 5: 250}  # cap=9 → 3 is complete, 4/5 not
    for key, sz in sizes.items():
        ids = rng.sample(range(100000), sz)
        rows += [(key, f"c{i:06d}") for i in ids]
    df = spark.createDataFrame(rows, "k long, id string")
    out = {r["k"]: r for r in bucket_summaries(df, "k", "id", cap=9).collect()}

    truth = {}
    for key, sz in sizes.items():
        members = sorted(i for kk, i in rows if kk == key)
        truth[key] = members
    for key, sz in sizes.items():
        r = out[key]
        assert r["bucket_n"] == sz
        assert r["center"] == truth[key][0]
        assert list(r["members"]) == sorted(r["members"])
        assert len(r["members"]) <= 10
        if sz <= 10:
            assert list(r["members"]) == truth[key]


def test_merge_bucket_summaries_semantics(spark):
    """Sketch-style summary merge == from-scratch summaries for every
    consumer-visible field: bucket_n and center always; complete members
    when the merged bucket is under cap.  Covers old-only, new-only,
    overlapping, and over-cap buckets, with long ids (the documents path)."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.operators.lsh import (
        bucket_summaries,
        merge_bucket_summaries,
    )

    cap = 4
    # bucket 1: split across old/new, merged size 4 == cap (complete)
    # bucket 2: old only; bucket 3: new only
    # bucket 4: over cap combined (3 old + 3 new > 4) -> center only
    old_rows = [(1, i) for i in (10, 11)] + [(2, 20)] + [(4, i) for i in (40, 41, 42)]
    new_rows = [(1, i) for i in (12, 13)] + [(3, 30)] + [(4, i) for i in (38, 44, 45)]
    old_b = spark.createDataFrame(old_rows, "band_key long, id long")
    new_b = spark.createDataFrame(new_rows, "band_key long, id long")
    merged = merge_bucket_summaries(
        bucket_summaries(old_b, "band_key", "id", cap),
        bucket_summaries(new_b, "band_key", "id", cap),
        cap,
    ).toPandas().set_index("band_key")
    scratch = bucket_summaries(
        old_b.unionByName(new_b), "band_key", "id", cap
    ).toPandas().set_index("band_key")
    assert sorted(merged.index) == sorted(scratch.index) == [1, 2, 3, 4]
    for bk in (1, 2, 3, 4):
        assert merged.loc[bk, "bucket_n"] == scratch.loc[bk, "bucket_n"]
        assert merged.loc[bk, "center"] == scratch.loc[bk, "center"]
        if scratch.loc[bk, "bucket_n"] <= cap:
            assert sorted(merged.loc[bk, "members"]) == sorted(
                scratch.loc[bk, "members"]
            )
    assert merged.loc[4, "center"] == 38  # min member arrived in the NEW side


def test_shard_caches_released_after_dedup_query(spark):
    """Hygiene contract: _salted_pairs persists its shard frame (landmine:
    two consumers must not re-run the Arrow lineage), and the operator
    wrappers release that cache once candidates are materialized — a
    long-lived session running many dedup queries must not accumulate
    cached shard RDDs."""
    import pandas as pd

    from datasketches_pig_spark.operators.lsh import _SHARD_CACHES
    from datasketches_pig_spark.textops.dedup import (
        minhash_dedup_pairs,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "the quick brown fox jumps over the lazy dog",
                    "a completely different document about spark",
                    "one two three four five six seven eight",
                    "one two three four five six seven nine",
                    "yet another unrelated piece of text here",
                ],
            }
        )
    )
    from datasketches_pig_spark.operators.lsh import release_shard_caches

    minhash_dedup_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    assert not _SHARD_CACHES, "minhash left shard caches registered"
    # r8 residue rule: operators whose candidate frame stays lazy (simhash,
    # image/audio near-pairs) release the PREVIOUS operator's caches at
    # their own start, so a session carries at most the last query's shard
    # caches — bounded residue, not a leak (operators/lsh.py docstring)
    simhash_near_pairs(docs, "doc_id", "text", 3, max_hamming=6).collect()
    assert len(_SHARD_CACHES) <= 1, "more than the last query's caches left"
    simhash_near_pairs(docs, "doc_id", "text", 3, max_hamming=6).collect()
    assert len(_SHARD_CACHES) <= 1, "release-at-start did not bound residue"
    # the explicit hygiene call clears the bounded residue
    release_shard_caches()
    assert not _SHARD_CACHES
    assert release_shard_caches() == 0
