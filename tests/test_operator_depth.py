"""Per-operator path depth (r4): build/merge/state-persist/unpack paths,
invariants, and bad-input validation in the reference's per-UDF test style
(``theta/DataToSketchTest.java``'s all-execution-path pattern) — prioritizing
the sampling mixed-k rules and the vectorized kernels."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------------------
# sampling mixed-k paths
# ---------------------------------------------------------------------------

def test_reservoir_mixed_k_min_rule_and_membership(spark):
    """Mixed-k reservoir union: merged size = min valid k when the union
    overflows it; every survivor is one of the input samples."""
    from datasketches_pig_spark.sketch.sampling import (
        reservoir_state,
        reservoir_union_states,
    )

    d1 = spark.range(0, 30).select(F.col("id").alias("v"))
    d2 = spark.range(100, 140).select(F.col("id").alias("v"))
    s1 = reservoir_state(d1, k=10)
    s2 = reservoir_state(d2, k=5)
    merged = reservoir_union_states(s1.unionByName(s2)).collect()
    assert len(merged) == 5  # min(10, 5): a smaller reservoir can't grow back
    vals = {r["v"] for r in merged}
    assert vals <= set(range(0, 30)) | set(range(100, 140))


def test_reservoir_mixed_k_exact_union_under_min_k(spark):
    """When the union fits inside the min valid k, the merge returns ALL
    retained rows — the exact-mode shortcut."""
    from datasketches_pig_spark.sketch.sampling import (
        reservoir_state,
        reservoir_union_states,
    )

    d1 = spark.range(0, 3).select(F.col("id").alias("v"))
    d2 = spark.range(10, 13).select(F.col("id").alias("v"))
    s1 = reservoir_state(d1, k=100)
    s2 = reservoir_state(d2, k=50)
    merged = reservoir_union_states(s1.unionByName(s2)).collect()
    assert {r["v"] for r in merged} == {0, 1, 2, 10, 11, 12}


def test_reservoir_mixed_k_missing_k_col_raises(spark):
    from datasketches_pig_spark.sketch.sampling import (
        reservoir_state,
        reservoir_union_states,
    )

    st = reservoir_state(spark.range(5).select(F.col("id").alias("v")), k=4)
    with pytest.raises(ValueError, match="mixed-k"):
        reservoir_union_states(st.drop("k"))


def test_varopt_preserves_total_weight(spark):
    """The defining VarOpt invariant: adjusted weights sum exactly to the
    input total, grouped and ungrouped, in both sample and state-merge
    paths."""
    from datasketches_pig_spark.sketch.sampling import (
        varopt_sample,
        varopt_state,
        varopt_union_states,
    )

    pdf = pd.DataFrame(
        {
            "g": [i % 3 for i in range(90)],
            "v": range(90),
            "weight": [1.0 + (i % 7) for i in range(90)],
        }
    )
    df = spark.createDataFrame(pdf)
    want = pdf.groupby("g")["weight"].sum().to_dict()

    out = varopt_sample(df, k=8, group_cols=["g"]).toPandas()
    got = out.groupby("g")["vo_weight"].sum().to_dict()
    for g in want:
        assert got[g] == pytest.approx(want[g]), f"group {g} weight not preserved"
        assert (out["g"] == g).sum() <= 8

    # state persist -> mixed-k merge preserves weight too (largest-k rule)
    s1 = varopt_state(df.filter("v < 45"), k=6, group_cols=["g"])
    s2 = varopt_state(df.filter("v >= 45"), k=12, group_cols=["g"])
    merged = varopt_union_states(s1.unionByName(s2), group_cols=["g"]).toPandas()
    mgot = merged.groupby("g")["vo_weight"].sum().to_dict()
    for g in want:
        assert mgot[g] == pytest.approx(want[g])
        assert (merged["g"] == g).sum() <= 12  # largest valid k


def test_varopt_grouped_flush_path(spark):
    """High-cardinality grouped VarOpt: one input partition whose retained
    pools exceed the flush bound (1700 groups x k=64 > 100k rows) must
    still produce <= k rows per group with per-group weight preserved —
    exercising the r4 pool-flush branch."""
    from datasketches_pig_spark.sketch.sampling import varopt_sample

    n_groups, per_group, k = 1700, 70, 64
    df = (
        spark.range(n_groups * per_group)
        .select(
            (F.col("id") % n_groups).alias("g"),
            F.col("id").alias("v"),
            (F.lit(1.0) + (F.col("id") % 5)).alias("weight"),
        )
        .coalesce(1)  # single task -> pools accumulate past the flush bound
    )
    out = varopt_sample(df, k=k, group_cols=["g"])
    per = out.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vo_weight").alias("w")
    )
    bad_n = per.filter(F.col("n") > k).count()
    assert bad_n == 0
    # spot-check weight preservation on a few groups
    want = (
        df.groupBy("g").agg(F.sum("weight").alias("w")).filter(F.col("g") < 5)
    ).collect()
    got = {r["g"]: r["w"] for r in per.filter(F.col("g") < 5).collect()}
    for r in want:
        assert got[r["g"]] == pytest.approx(r["w"])


def test_varopt_state_unpack_schema_roundtrip(spark):
    """state -> get_varopt_samples unpack returns the sample schema
    (record columns + vo_weight), the GetVarOptSamples contract."""
    from datasketches_pig_spark.sketch.sampling import (
        get_varopt_samples,
        varopt_sample,
        varopt_state,
    )

    df = spark.createDataFrame(
        [(i, f"s{i}", float(i + 1)) for i in range(20)], "v long, s string, weight double"
    )
    sample_cols = set(varopt_sample(df, k=5).columns)
    st = varopt_state(df, k=5)
    unpacked = get_varopt_samples(st)
    assert set(unpacked.columns) == sample_cols
    assert unpacked.count() == 5


# ---------------------------------------------------------------------------
# theta set-op estimating-mode paths
# ---------------------------------------------------------------------------

def test_theta_estimating_mode_union_and_jaccard(spark):
    from datasketches_pig_spark.sketch.theta import (
        theta_estimate,
        theta_jaccard,
        theta_sketch_agg,
        theta_union_sketches,
    )

    k = 16  # smallest legal k -> estimating mode at 1000 distincts
    df = spark.range(1000).select(F.lit(1).alias("g"), F.col("id").alias("v"))
    sk = theta_sketch_agg(df, ["g"], "v", k=k)
    row = sk.select(
        F.size("sketch").alias("n"),
        theta_estimate("sketch", k).alias("est"),
        theta_jaccard(F.col("sketch"), F.col("sketch"), k).alias("self_j"),
        F.size(
            theta_union_sketches(F.col("sketch"), F.col("sketch"), k)
        ).alias("union_n"),
    ).collect()[0]
    assert row["n"] == k  # trimmed to k in estimating mode
    # KMV rse ~ 1/sqrt(k-1): allow 4 sigma
    assert abs(row["est"] - 1000) / 1000 < 4 / np.sqrt(k - 1)
    assert row["self_j"] == 1.0
    assert row["union_n"] == k


def test_theta_intersect_disjoint_empty(spark):
    from datasketches_pig_spark.sketch.theta import (
        theta_intersect,
        theta_intersect_estimate,
        theta_sketch_agg,
    )

    a = theta_sketch_agg(
        spark.range(0, 50).select(F.lit(1).alias("g"), F.col("id").alias("v")),
        ["g"], "v", k=64,
    ).select(F.col("sketch").alias("sa"))
    b = theta_sketch_agg(
        spark.range(1000, 1050).select(F.lit(1).alias("g"), F.col("id").alias("v")),
        ["g"], "v", k=64,
    ).select(F.col("sketch").alias("sb"))
    row = a.crossJoin(b).select(
        F.size(theta_intersect(F.col("sa"), F.col("sb"), 64)).alias("n"),
        theta_intersect_estimate(F.col("sa"), F.col("sb"), 64).alias("est"),
    ).collect()[0]
    assert row["n"] == 0 and row["est"] == 0.0


# ---------------------------------------------------------------------------
# vectorized kernel parity + validation
# ---------------------------------------------------------------------------

def test_hamming64_matches_scalar_popcount():
    from datasketches_pig_spark.operators.signatures import hamming64

    rng = np.random.default_rng(7)
    a = rng.integers(-(2**63), 2**63, size=200, dtype=np.int64)
    b = rng.integers(-(2**63), 2**63, size=200, dtype=np.int64)
    got = hamming64(a, b)
    want = [bin((int(x) ^ int(y)) & ((1 << 64) - 1)).count("1") for x, y in zip(a, b)]
    assert got.tolist() == want


def test_kernel_bad_args_raise():
    from datasketches_pig_spark.operators.signatures import (
        band_hashes,
        simhash_combo_keys_np,
        word_ngram_hash_sets,
    )
    from datasketches_pig_spark.operators.lsh import _simhash_blocks

    sig = np.zeros((3, 64), dtype=np.uint64)
    with pytest.raises(ValueError, match="signature width"):
        band_hashes(sig, band_count=32, rows_per_band=4, seed=1)  # 128 > 64
    band_hashes(sig, band_count=16, rows_per_band=4, seed=1)  # fits: ok
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_combo_keys_np(np.zeros(2, dtype=np.int64), max_hamming=0)
    with pytest.raises(ValueError, match="max_hamming"):
        _simhash_blocks(14)
    with pytest.raises(ValueError, match="n must be"):
        word_ngram_hash_sets(["a b c"], 0, 9001)
    with pytest.raises(ValueError, match="char_fallback_n"):
        word_ngram_hash_sets(["a b c"], 3, 9001, char_fallback_n=1)


def test_minhash_empty_and_identical_doc_signatures():
    from datasketches_pig_spark.operators.signatures import (
        minhash_signatures,
        word_ngram_hash_sets,
    )

    texts = ["alpha beta gamma delta", "alpha beta gamma delta", ""]
    h, c = word_ngram_hash_sets(texts, 3, 9001)
    sig = minhash_signatures(h, c, 32, 9001)
    assert np.array_equal(sig[0], sig[1])  # identical docs -> identical sigs
    assert (sig[2] == np.uint64(0xFFFFFFFFFFFFFFFF)).all()  # empty -> all-max
