"""Pure-audio near-dup operators (`audioops/neardup.py`) over the
deterministic ADPCM gate corpus (`data/audio.py`).

The gate query (`dedup_adpcm`) checks the EXACT inverted-index path against
the independent scalar oracle; these tests cover what the gate can't:
the LSH-banded scale path's recall, exact↔LSH agreement where the banding
curve is ~1, and the hot-gram pruning knob."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from datasketches_pig_spark.audioops.neardup import (
    audio_exact_pairs,
    audio_near_pairs,
    audio_signature_frame,
)
from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.data.audio import AUDIO_SCHEMA, synth_adpcm_clip

N = 100


@pytest.fixture(scope="module")
def corpus(spark):
    ids = spark.range(N).select(F.col("id").alias("doc_id"))
    return synth_adpcm_clip(ids).localCheckpoint()


def _planted(n):
    return [(d - 2, d) for d in range(n) if d % 5 == 4]


def test_lsh_path_full_recall_on_planted(corpus):
    """The banded scale path must find every planted pair.  Exact-dup plants
    (j=1.0) are found with certainty (all bands equal); partial-overlap
    plants sit at j >= 2/3 where the 32x4 banding curve is >= 0.999 — and the
    whole computation is deterministic under the committed seed, so this is
    a fixed fact about the shipped configuration, not a flaky sample."""
    got = {
        (r["a"], r["b"])
        for r in audio_near_pairs(corpus, threshold=0.5).collect()
    }
    missing = [p for p in _planted(N) if p not in got]
    assert not missing, f"LSH path missed planted pairs: {missing}"


def test_exact_path_is_superset_with_identical_jaccard(corpus):
    """audio_exact_pairs is deterministically complete, so the LSH result
    must be a subset — and on every shared pair the two paths must report
    the IDENTICAL jaccard (both compute it from the same kmv contract)."""
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in audio_exact_pairs(corpus, threshold=0.5).collect()
    }
    lsh = {
        (r["a"], r["b"]): r["jaccard"]
        for r in audio_near_pairs(corpus, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[p] == lsh[p] for p in lsh)
    # and the high-jaccard regime agrees exactly (banding curve ~1 there)
    high = {p for p, j in exact.items() if j >= 0.7}
    assert high <= set(lsh), f"LSH missed high-jaccard pairs: {high - set(lsh)}"


def test_max_gram_freq_prunes_hot_grams(corpus):
    """With every gram hotter than the cap, no pairs survive; with a huge
    cap the result is unchanged vs no cap."""
    none = audio_exact_pairs(corpus, threshold=0.5, max_gram_freq=1)
    assert none.count() == 0
    a = audio_exact_pairs(corpus, threshold=0.5, max_gram_freq=10**6)
    b = audio_exact_pairs(corpus, threshold=0.5)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_signature_frame_shape_and_exact_below_k(corpus):
    """The fused pass emits fixed-size artifacts only, and on this corpus
    (tiny gram sets) kmv IS the full set: n == size(kmv) everywhere."""
    cfg = DedupConfig()
    sigs = audio_signature_frame(corpus, cfg, "clip_id")
    rows = sigs.collect()
    assert len(rows) == N
    for r in rows:
        assert len(r["bands"]) == cfg.band_count
        assert r["n"] == len(r["kmv"]) and r["n"] <= cfg.kmv_k
        # kmv is strictly ascending in uint64 hash order (bottom-k contract)
        u = np.asarray(r["kmv"], dtype=np.int64).view(np.uint64)
        assert len(u) <= 1 or (u[1:] > u[:-1]).all()


def test_empty_and_single_clip_edges(spark):
    empty = spark.createDataFrame([], AUDIO_SCHEMA)
    assert audio_near_pairs(empty).count() == 0
    assert audio_exact_pairs(empty).count() == 0
    one = synth_adpcm_clip(spark.range(1).select(F.col("id").alias("doc_id")))
    assert audio_exact_pairs(one).count() == 0


def test_kmv_pair_jaccard_matches_numpy_reference(spark):
    """The JVM-side kmv_pair_jaccard column must agree with the scalar
    numpy kmv_jaccard on truncated sketches — including hashes >= 2^63
    (negative int64), which pins the sign flip's unsigned order.
    Exact-mode pairs (both sides complete) must report the exact Jaccard."""
    from datasketches_pig_spark.audioops.neardup import kmv_pair_jaccard
    from datasketches_pig_spark.operators.signatures import (
        kmv_bottom_k,
        kmv_jaccard,
    )

    k = 8
    rng = np.random.default_rng(9001)
    cases = []
    # truncated: universes far larger than k, straddling the 2^63 boundary
    for trial in range(6):
        ua = rng.integers(0, 2**64, size=40, dtype=np.uint64)
        shared = ua[: 10 + 2 * trial]
        ub = np.concatenate(
            [shared, rng.integers(0, 2**64, size=25, dtype=np.uint64)]
        )
        cases.append((np.unique(ua), np.unique(ub)))
    # exact: both sides complete (n <= k)
    cases.append(
        (
            np.array([1, 5, 2**63 + 7], dtype=np.uint64),
            np.array([5, 2**63 + 7, 2**64 - 1], dtype=np.uint64),
        )
    )
    rows, expected = [], []
    for i, (sa_u, sb_u) in enumerate(cases):
        ka, kb = kmv_bottom_k(sa_u, k), kmv_bottom_k(sb_u, k)
        na, nb = len(sa_u), len(sb_u)
        if na <= k and nb <= k:
            exp = len(np.intersect1d(sa_u, sb_u)) / len(np.union1d(sa_u, sb_u))
        else:
            exp = kmv_jaccard(ka, kb, k)
        rows.append(
            (i, [int(x) for x in ka.view(np.int64)],
             [int(x) for x in kb.view(np.int64)], na, nb)
        )
        expected.append(exp)
    df = spark.createDataFrame(
        rows, "i int, ka array<long>, kb array<long>, na int, nb int"
    )
    got = {
        r["i"]: r["j"]
        for r in df.select(
            "i", kmv_pair_jaccard("ka", "kb", "na", "nb", k).alias("j")
        ).collect()
    }
    for i, exp in enumerate(expected):
        assert got[i] == pytest.approx(exp, abs=1e-12), (
            f"case {i}: spark {got[i]} vs numpy {exp}"
        )
