"""Hot-bucket candidate generation: the candidate step must keep pair count
O(n) (star links to the bucket minimum), preserve connectivity, and keep
exact all-pairs for small buckets; the salted expansion behind
``bucket_pairs`` keeps its own contracts."""

import pyspark.sql.functions as F
import pytest

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.operators.lsh import candidate_pairs
from datasketches_pig_spark.operators.unionfind import connected_components


_WINDOW_BUFFER_CONFS = {
    "spark.sql.windowExec.buffer.in.memory.threshold": "16",
    "spark.sql.windowExec.buffer.spill.threshold": "256",
}


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
    # the hot key's 3000 rows meet in one window task: with tiny buffer
    # thresholds that task runs the window's spilling path
    saved = {k: spark.conf.get(k, None) for k in _WINDOW_BUFFER_CONFS}
    try:
        for k, v in _WINDOW_BUFFER_CONFS.items():
            spark.conf.set(k, v)
        pairs = candidate_pairs(bands, cfg).distinct().localCheckpoint()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    n = pairs.count()
    # hot bucket: n-1 star links to the bucket minimum, nowhere near the
    # 4.5M all-pairs; small bucket: exact C(5,2)=10
    assert n == 2999 + 10, n
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
    """Hygiene contract: a long-lived session running many dedup queries
    must not accumulate cached shard RDDs.  Minhash's candidate step caches
    nothing, and its start releases what earlier video queries left."""
    import pandas as pd

    from datasketches_pig_spark.operators.lsh import (
        _SHARD_CACHES,
        release_shard_caches,
    )
    from datasketches_pig_spark.textops.dedup import minhash_dedup_pairs

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
    minhash_dedup_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    assert not _SHARD_CACHES, "minhash left shard caches registered"
    assert release_shard_caches() == 0


def _simhash_op(spark):
    from datasketches_pig_spark.textops.dedup import simhash_near_pairs

    docs = spark.createDataFrame(
        [(i, f"doc {i % 3} shares these few words here") for i in range(6)],
        "doc_id long, text string",
    )
    return lambda: simhash_near_pairs(docs, "doc_id", "text", 3, max_hamming=6)


def _image_op(spark):
    from datasketches_pig_spark.data.images import synth_jpeg_frame
    from datasketches_pig_spark.imageops.features import image_near_pairs

    frames = synth_jpeg_frame(
        spark.range(10).select(F.col("id").alias("doc_id"))
    ).localCheckpoint()
    return lambda: image_near_pairs(frames, max_hamming=4)


def _audio_op(spark):
    from datasketches_pig_spark.audioops.neardup import audio_near_pairs
    from datasketches_pig_spark.data.audio import synth_adpcm_clip

    clips = synth_adpcm_clip(
        spark.range(10).select(F.col("id").alias("doc_id"))
    ).localCheckpoint()
    return lambda: audio_near_pairs(clips, threshold=0.5)


def _embedding_rhp_op(spark):
    from datasketches_pig_spark.ann.knn import embedding_near_pairs

    vecs = spark.createDataFrame(
        [(i, [float(i % 2), 1.0, 0.5 * (i % 3)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    return lambda: embedding_near_pairs(vecs, 0.9, method="rhp", dim=3)


@pytest.mark.parametrize(
    "make_op",
    [_simhash_op, _image_op, _audio_op, _embedding_rhp_op],
    ids=["simhash", "image", "audio", "embedding_rhp"],
)
def test_lsh_candidates_residue_bounded(spark, monkeypatch, make_op):
    """Every lazy-candidate near-dup operator builds its candidates through
    ``lsh_candidates``, which caches nothing: back-to-back queries leave no
    shard cache registered."""
    from datasketches_pig_spark.operators import lsh
    from datasketches_pig_spark.operators.lsh import (
        _SHARD_CACHES,
        release_shard_caches,
    )

    calls = []
    real = lsh.lsh_candidates

    def recording(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(lsh, "lsh_candidates", recording)
    op = make_op(spark)
    release_shard_caches()
    op().collect()
    assert calls, "candidates did not go through lsh_candidates"
    assert len(_SHARD_CACHES) == 0, "the candidate step left a shard cache"
    op().collect()
    assert len(_SHARD_CACHES) == 0, "the candidate step left a shard cache"
    assert release_shard_caches() == 0


def test_lsh_candidates_contract(spark):
    """Distinct (a, b) with a < b, equal to the salted expansion of the
    exploded keys deduplicated — including a key bucket above the cap."""
    import random

    from datasketches_pig_spark.operators.lsh import (
        bucket_pairs,
        lsh_candidates,
        release_shard_caches,
    )

    rng = random.Random(3)
    # 40 ids over 12 keys (several shared per id) + one hot key on 30 ids
    rows = [
        (i, rng.sample(range(12), 3) + ([99] if i < 30 else []))
        for i in range(40)
    ]
    sigs = spark.createDataFrame(rows, "id long, keys array<long>")
    cap = 8
    got = lsh_candidates(sigs, F.col("keys"), cap).collect()
    pairs = [(r["a"], r["b"]) for r in got]
    assert pairs and all(a < b for a, b in pairs)
    assert len(pairs) == len(set(pairs)), "duplicate candidate pairs"
    exploded = sigs.select("id", F.explode("keys").alias("k"))
    want = bucket_pairs(exploded, "k", "id", cap).distinct().collect()
    assert set(pairs) == {(r["a"], r["b"]) for r in want}
    release_shard_caches()


def _brute_force_pairs(rows, cap):
    """Scalar reference of the candidate step over (key, id) rows: all
    pairs a < b in a bucket of 2..cap rows, every member starred to the
    bucket minimum above cap (bucket size counts rows, repeats included)."""
    buckets: dict = {}
    for key, i in rows:
        buckets.setdefault(key, []).append(i)
    pairs = set()
    for ids in buckets.values():
        members = sorted(set(ids))
        if len(ids) > cap:
            pairs.update((members[0], b) for b in members[1:])
        elif len(ids) >= 2:
            pairs.update(
                (a, b) for j, a in enumerate(members) for b in members[j + 1 :]
            )
    return pairs


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_candidate_step_matches_brute_force(spark, id_type):
    """``candidate_pairs`` and ``lsh_candidates`` equal the scalar reference
    on buckets of 1, 2, cap, cap+1 and ~3000 rows, with repeated (key, id)
    rows that move a bucket across the cap and ids shared across buckets.
    Where no salt shard exceeds cap+1 (everything but the 3000-row bucket)
    they also equal the salted ``bucket_pairs`` expansion."""
    import random

    from datasketches_pig_spark.operators.lsh import (
        bucket_pairs,
        lsh_candidates,
        release_shard_caches,
    )

    cap = 8
    rng = random.Random(11)
    if id_type == "long":
        pool = list({rng.randrange(-(2**63), 2**63) for _ in range(4000)})
    else:
        # unpadded: string order differs from numeric order ("id9" > "id10")
        pool = [f"id{i}" for i in rng.sample(range(100000), 4000)]
    sizes = {1: 1, 2: 2, 3: cap, 4: cap + 1, 5: 3000, 6: cap, 7: 5}
    rows = [(key, i) for key, n in sizes.items() for i in rng.sample(pool, n)]
    # repeated rows: bucket 6 goes over cap (cap+1 rows, cap distinct ids)
    # and bucket 7 stays under it (6 rows, 5 distinct ids)
    rows += [(6, rows[-6][1]), (7, rows[-1][1])]
    rows += [(5, i) for _, i in rows[:40] if rng.random() < 0.5]
    want = _brute_force_pairs(rows, cap)

    keyed = spark.createDataFrame(rows, f"band_key long, clip_id {id_type}")
    cfg = DedupConfig(max_bucket_size=cap)
    got = [(r["a"], r["b"]) for r in candidate_pairs(keyed, cfg).collect()]
    assert all(a < b for a, b in got)
    assert set(got) == want

    by_id: dict = {}
    for key, i in rows:
        by_id.setdefault(i, []).append(key)
    sigs = spark.createDataFrame(
        list(by_id.items()), f"id {id_type}, keys array<long>"
    )
    got = lsh_candidates(sigs, F.col("keys"), cap).collect()
    got = [(r["a"], r["b"]) for r in got]
    assert len(got) == len(set(got)), "duplicate candidate pairs"
    assert set(got) == want

    unsalted = [(k, i) for k, i in rows if k != 5]
    salted = bucket_pairs(
        keyed.filter(F.col("band_key") != 5), "band_key", "clip_id", cap
    ).distinct()
    assert {(r["a"], r["b"]) for r in salted.collect()} == _brute_force_pairs(
        unsalted, cap
    )
    release_shard_caches()


def test_video_near_pairs_keeps_shard_cache(spark):
    """``video_near_pairs`` does NOT release at start or after: its shard
    cache is the cross-query cache repeated MJPEG dedup passes read."""
    from datasketches_pig_spark.data.videos import synth_video_frame
    from datasketches_pig_spark.operators.lsh import (
        _SHARD_CACHES,
        release_shard_caches,
    )
    from datasketches_pig_spark.videoops.frames import video_near_pairs

    vids = synth_video_frame(
        spark.range(10).select(F.col("id").alias("doc_id"))
    ).localCheckpoint()
    release_shard_caches()
    video_near_pairs(vids, stride=1).collect()
    assert len(_SHARD_CACHES) == 1, "video released its shard cache"
    video_near_pairs(vids, stride=1).collect()
    assert len(_SHARD_CACHES) == 2, "video released the previous query's cache"
    assert release_shard_caches() == 2
