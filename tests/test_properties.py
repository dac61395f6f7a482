"""Property tests for the sketch algebra and banding guarantees —
hypothesis-driven, mirroring the reference's randomized TestNG depth
(theta/UnionTest.java, sampling/VarOptSamplingTest.java style)."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from datasketches_pig_spark.functions.murmur3 import murmur3_long_batch
from datasketches_pig_spark.operators.signatures import minhash_signatures, simhash64


# --- pure-kernel properties (no Spark) -------------------------------------

@given(st.lists(st.integers(0, 2**63 - 1), min_size=1, max_size=200), st.integers(0, 5))
@settings(max_examples=30, deadline=None)
def test_minhash_permutation_invariance(vals, rot):
    """MinHash signatures must not depend on input hash order."""
    h = np.array(sorted(set(vals)), dtype=np.uint64)
    rolled = np.roll(h, rot)
    c = np.array([len(h)], dtype=np.int64)
    a = minhash_signatures(h, c, 16, 9001)
    b = minhash_signatures(rolled, c, 16, 9001)
    assert np.array_equal(a, b)


@given(st.lists(st.integers(0, 2**63 - 1), min_size=1, max_size=100))
@settings(max_examples=30, deadline=None)
def test_minhash_subset_dominates(vals):
    """Adding elements can only lower (or keep) each per-permutation min."""
    h = np.array(sorted(set(vals)), dtype=np.uint64)
    half = h[: max(1, len(h) // 2)]
    full_sig = minhash_signatures(h, np.array([len(h)]), 16, 9001)[0]
    half_sig = minhash_signatures(half, np.array([len(half)]), 16, 9001)[0]
    assert (full_sig <= half_sig).all()


@given(st.lists(st.integers(0, 2**63 - 1), min_size=2, max_size=100))
@settings(max_examples=30, deadline=None)
def test_simhash_identical_sets_identical_fp(vals):
    h = np.array(sorted(set(vals)), dtype=np.uint64)
    two = np.concatenate([h, h])
    counts = np.array([len(h), len(h)], dtype=np.int64)
    fp = simhash64(two, counts)
    assert fp[0] == fp[1]


@given(st.integers(0, 2**63 - 1), st.integers(0, 2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_murmur_long_batch_deterministic_and_seed_sensitive(v, seed):
    x = np.array([v], dtype=np.int64)
    h1a, _ = murmur3_long_batch(x, seed)
    h1b, _ = murmur3_long_batch(x, seed)
    assert h1a[0] == h1b[0]
    h1c, _ = murmur3_long_batch(x, seed + 1)
    assert h1a[0] != h1c[0]  # 2^-64 collision odds


# --- Manku banding completeness (the simhash recall guarantee) -------------

@given(
    st.integers(0, 2**64 - 1),
    st.integers(1, 6),
    st.sets(st.integers(0, 63), min_size=0, max_size=6),
)
@settings(max_examples=60, deadline=None)
def test_manku_blocks_pigeonhole(base, h, flip_bits):
    """Any pair within Hamming <= h must share >= 1 of the choose(h+3,3)
    3-block combo keys — pure-python replication of the key packing."""
    from itertools import combinations

    from datasketches_pig_spark.operators.lsh import _simhash_blocks

    flips = list(flip_bits)[:h]
    other = base
    for b in flips:
        other ^= 1 << b
    bits, offs = _simhash_blocks(h)

    def keys(v):
        out = []
        for combo in combinations(range(len(bits)), 3):
            out.append(tuple((v >> offs[b]) & ((1 << bits[b]) - 1) for b in combo))
        return out

    shared = any(ka == kb for ka, kb in zip(keys(base), keys(other)))
    assert shared, f"hamming={len(flips)} pair shares no combo key"


# --- sketch set algebra (Spark column exprs over literal arrays) -----------

def _lit_sketch(vals):
    return F.array(*[F.lit(int(v)).cast("long") for v in sorted(vals)])


@pytest.mark.parametrize("k", [4, 16])
def test_theta_union_commutative_associative(spark, k):
    from datasketches_pig_spark.sketch.theta import theta_union_sketches

    a, b, c = {1, 5, 9}, {2, 5, 11, 40}, {9, 40, 77}
    df = spark.range(1)
    ab_c = theta_union_sketches(
        theta_union_sketches(_lit_sketch(a), _lit_sketch(b), k), _lit_sketch(c), k
    )
    a_bc = theta_union_sketches(
        _lit_sketch(a), theta_union_sketches(_lit_sketch(b), _lit_sketch(c), k), k
    )
    ba = theta_union_sketches(_lit_sketch(b), _lit_sketch(a), k)
    ab = theta_union_sketches(_lit_sketch(a), _lit_sketch(b), k)
    row = df.select(
        ab_c.alias("x"), a_bc.alias("y"), ab.alias("p"), ba.alias("q")
    ).collect()[0]
    assert row["x"] == row["y"]  # associative
    assert row["p"] == row["q"]  # commutative
    expected = sorted(a | b | c)[:k]
    assert row["x"] == expected  # exact below k


def test_theta_intersect_anotb_partition(spark):
    """A = (A∩B) ⊎ (A\\B) in exact mode."""
    from datasketches_pig_spark.sketch.theta import theta_a_not_b, theta_intersect

    a, b = {1, 2, 3, 10, 20}, {2, 10, 99}
    df = spark.range(1)
    row = df.select(
        theta_intersect(_lit_sketch(a), _lit_sketch(b), 64).alias("i"),
        theta_a_not_b(_lit_sketch(a), _lit_sketch(b), 64).alias("d"),
    ).collect()[0]
    assert sorted(row["i"] + row["d"]) == sorted(a)
    assert set(row["i"]) == a & b and set(row["d"]) == a - b


# --- sampling statistical properties ---------------------------------------

def test_varopt_heavy_items_always_kept(spark):
    """Items with weight above tau must survive with their own weight."""
    from datasketches_pig_spark.sketch.sampling import varopt_sample

    pdf = pd.DataFrame(
        {"k": range(300), "w": [1.0] * 298 + [500.0, 900.0]}
    )
    out = varopt_sample(spark.createDataFrame(pdf), k=32, weight_col="w").collect()
    kept = {r["k"]: r["vo_weight"] for r in out}
    assert kept[298] == 500.0 and kept[299] == 900.0
    assert len(out) == 32


def test_reservoir_grouped_uniformity(spark):
    """Across seeds, each of 20 items should appear in a k=5 sample with
    frequency ~ k/n = 0.25 (chi-square sanity, not exactness)."""
    from datasketches_pig_spark.sketch.sampling import reservoir_sample

    df = spark.range(20).select(F.col("id").alias("v"))
    hits = np.zeros(20)
    n_seeds = 40
    for seed in range(n_seeds):
        for r in reservoir_sample(df, 5, seed=seed).collect():
            hits[r["v"]] += 1
    freq = hits / n_seeds
    assert abs(freq.mean() - 0.25) < 1e-9  # exactly k draws per seed
    assert freq.max() < 0.55 and freq.min() > 0.05  # no item starved/pinned


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.characters(blacklist_categories=("Cs",)),
                max_size=60,
            ),
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(1, 4),
)
@settings(max_examples=25, deadline=None)
def test_word_ngram_hash_sets_property_matches_scalar(texts, n):
    """Flat batch shingle kernel == scalar replication for arbitrary unicode
    inputs, any n — the contract the VALUES oracles rest on.  Includes the
    r4 no-space-script fallback: < n tokens → char 5-grams (tokens =
    unicode chars of the ws-normalized text)."""
    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128
    from datasketches_pig_spark.operators.signatures import word_ngram_hash_sets

    gs, counts = word_ngram_hash_sets(texts, n, 9001)
    assert counts.sum() == len(gs)
    pos = 0
    for i, t in enumerate(texts):
        toks = (t or "").lower().encode("utf-8").split()
        if len(toks) >= n:
            th = [murmur3_x64_128(w, 9001)[0] for w in toks]
            win = n
        else:
            norm = b" ".join(toks).decode("utf-8")
            th = [murmur3_x64_128(c.encode("utf-8"), 9001)[0] for c in norm]
            win = 5
        want = sorted(
            {
                murmur3_x64_128(
                    b"".join(int(h).to_bytes(8, "little") for h in th[j : j + win]),
                    9001,
                )[0]
                for j in range(max(len(th) - win + 1, 0))
            }
        )
        assert counts[i] == len(want)
        got = sorted(gs[pos : pos + counts[i]].tolist())
        assert got == [int(w) for w in want]
        pos += counts[i]
    assert pos == len(gs)
