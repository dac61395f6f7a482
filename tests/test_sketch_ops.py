"""Unit tests for the DataFrame-native sketch library, in the reference's
style: tiny deterministic inputs, exact-mode assertions with delta 0.0
(``theta/DataToSketchTest.java:137``)."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def kv_df(spark):
    rows = [("g1", i) for i in range(64)] + [("g2", i) for i in range(32, 96)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["g", "v"])).cache()


def test_theta_exact_mode_estimate(spark, kv_df):
    from datasketches_pig_spark.sketch.theta import theta_estimate, theta_sketch_agg

    sk = theta_sketch_agg(kv_df, ["g"], "v", k=256)
    out = {
        r["g"]: r["est"]
        for r in sk.select("g", theta_estimate("sketch", 256).alias("est")).collect()
    }
    assert out == {"g1": 64.0, "g2": 64.0}  # delta 0.0


def test_theta_estimate_above_k(spark):
    from datasketches_pig_spark.sketch.theta import theta_estimate, theta_sketch_agg

    df = spark.range(20000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    sk = theta_sketch_agg(df, ["g"], "v", k=256)
    est = sk.select(theta_estimate("sketch", 256).alias("e")).collect()[0]["e"]
    assert abs(est - 20000) / 20000 < 0.3


def test_theta_set_algebra_exact(spark, kv_df):
    from datasketches_pig_spark.sketch.theta import (
        theta_a_not_b,
        theta_intersect,
        theta_jaccard,
        theta_sketch_agg,
        theta_union_sketches,
    )

    sk = theta_sketch_agg(kv_df, ["g"], "v", k=256)
    a = sk.filter(F.col("g") == "g1").select(F.col("sketch").alias("ska"))
    b = sk.filter(F.col("g") == "g2").select(F.col("sketch").alias("skb"))
    pair = a.crossJoin(b)
    row = pair.select(
        F.size(theta_intersect(F.col("ska"), F.col("skb"), 256)).alias("i"),
        F.size(theta_a_not_b(F.col("ska"), F.col("skb"), 256)).alias("anb"),
        F.size(theta_union_sketches(F.col("ska"), F.col("skb"), 256)).alias("u"),
        theta_jaccard(F.col("ska"), F.col("skb"), 256).alias("j"),
    ).collect()[0]
    # g1 = 0..63, g2 = 32..95 → ∩ = 32, A\B = 32, ∪ = 96, J = 32/96
    assert (row["i"], row["anb"], row["u"]) == (32, 32, 96)
    assert row["j"] == pytest.approx(32 / 96, abs=1e-12)


def test_theta_jaccard_bounds_exact_mode(spark, kv_df):
    from datasketches_pig_spark.sketch.theta import theta_jaccard_bounds, theta_sketch_agg

    sk = theta_sketch_agg(kv_df, ["g"], "v", k=256)
    a = sk.filter(F.col("g") == "g1").select(F.col("sketch").alias("ska"))
    b = sk.filter(F.col("g") == "g2").select(F.col("sketch").alias("skb"))
    row = a.crossJoin(b).select(
        theta_jaccard_bounds(F.col("ska"), F.col("skb"), 256).alias("jb")
    ).collect()[0]["jb"]
    assert row["lb"] == row["est"] == row["ub"] == pytest.approx(32 / 96)


def test_quantiles_pmf_cdf_rank(spark):
    from datasketches_pig_spark.sketch.quantiles import get_cdf, get_pmf, get_quantiles, get_rank

    df = spark.createDataFrame(pd.DataFrame({"x": list(range(1, 101))}))
    q = get_quantiles(df, "x", [0.5]).collect()[0][0]
    assert q == pytest.approx(50.5)  # interpolated median of 1..100
    pmf = get_pmf(df, "x", [51.0]).collect()[0]
    assert pmf["pmf_0"] == pytest.approx(0.5) and pmf["pmf_1"] == pytest.approx(0.5)
    cdf = get_cdf(df, "x", [26.0]).collect()[0]
    assert cdf["cdf_0"] == pytest.approx(0.25)
    r = get_rank(df, "x", 76.0).collect()[0]["rank"]
    assert r == pytest.approx(0.75)


def test_frequent_items_exact_and_approx(spark):
    from datasketches_pig_spark.sketch.frequencies import (
        frequent_items,
        frequent_items_approx,
    )

    items = ["a"] * 50 + ["b"] * 30 + ["c"] * 15 + [f"x{i}" for i in range(20)]
    df = spark.createDataFrame(pd.DataFrame({"item": items})).repartition(4)
    top = frequent_items(df, "item", 3).collect()
    assert [(r["item"], r["est"]) for r in top] == [("a", 50), ("b", 30), ("c", 15)]
    assert all(r["lb"] == r["est"] == r["ub"] for r in top)

    approx = frequent_items_approx(df, "item", 3, max_map_size=8).collect()
    by_item = {r["item"]: r for r in approx}
    # NO_FALSE_NEGATIVES: true heavy hitters must appear, true count within [lb, ub]
    for item, true_c in [("a", 50), ("b", 30), ("c", 15)]:
        assert item in by_item
        assert by_item[item]["lb"] <= true_c <= by_item[item]["ub"]


def test_reservoir_shortcut_and_fixed_k(spark):
    from datasketches_pig_spark.sketch.sampling import reservoir_sample

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 5 + ["b"] * 50, "v": list(range(55))})
    )
    out = reservoir_sample(df, k=10, group_cols=["g"]).toPandas()
    # group a: n ≤ k → all 5 returned unchanged; group b: exactly k
    assert (out[out.g == "a"].v.sort_values().tolist()) == [0, 1, 2, 3, 4]
    assert len(out[out.g == "b"]) == 10
    assert set(out[out.g == "b"].v).issubset(set(range(5, 55)))
    with pytest.raises(ValueError):
        reservoir_sample(df, k=1)


def test_varopt_shortcut_and_weighting(spark):
    from datasketches_pig_spark.sketch.sampling import varopt_sample

    pdf = pd.DataFrame({"w": [1.0, 2.0, 3.0], "payload": ["x", "y", "z"]})
    df = spark.createDataFrame(pdf)
    out = varopt_sample(df, k=10, weight_col="w").toPandas().sort_values("payload")
    # n ≤ k → all rows, vo_weight == original weight
    assert out["vo_weight"].tolist() == [1.0, 2.0, 3.0]

    # n > k: total weight preserved (VarOpt preserves it exactly: heavy keep
    # their weight, the m light picks each carry τ with Σ light w = m·τ)
    rng = np.random.default_rng(0)
    big = pd.DataFrame({"w": rng.uniform(0.1, 10.0, 500), "payload": [str(i) for i in range(500)]})
    # plant genuinely heavy items (w > τ) that VarOpt must keep exactly
    big.loc[:2, "w"] = [500.0, 400.0, 300.0]
    bdf = spark.createDataFrame(big)
    res = varopt_sample(bdf, k=64, weight_col="w").toPandas()
    assert len(res) == 64
    total = big.w.sum()
    assert res.vo_weight.sum() == pytest.approx(total, rel=1e-9)
    for _, hr in big.nlargest(3, "w").iterrows():
        m = res[res.payload == hr.payload]
        assert len(m) == 1 and m.iloc[0].vo_weight == pytest.approx(hr.w)


def test_tuple_sketch_pvalues(spark):
    from datasketches_pig_spark.sketch.tuple_sketch import aod_p_values

    rng = np.random.default_rng(1)
    a = pd.DataFrame({"k": range(200), "v": rng.normal(10, 1, 200)})
    b_same = pd.DataFrame({"k": range(200), "v": rng.normal(10, 1, 200)})
    b_diff = pd.DataFrame({"k": range(200), "v": rng.normal(14, 1, 200)})
    da, ds, dd_ = (spark.createDataFrame(x) for x in (a, b_same, b_diff))
    p_same = aod_p_values(da, ds, "k", ["v"])[0]
    p_diff = aod_p_values(da, dd_, "k", ["v"])[0]
    assert p_same > 0.01
    assert p_diff < 1e-10


def test_hll_bounds_cover_truth(spark):
    from datasketches_pig_spark.sketch.distinct import hll_estimate_with_bounds

    df = spark.range(50000).select(F.col("id").alias("v"))
    row = hll_estimate_with_bounds(df, "v").collect()[0]
    assert row["lb"] <= 50000 <= row["ub"]

    # exact mode: bounds collapse onto the exact count (the oracle path)
    ex = hll_estimate_with_bounds(df, "v", exact=True).collect()[0]
    assert ex["lb"] == ex["est"] == ex["ub"] == 50000.0


def test_reservoir_union_exact_and_sampled(spark):
    import pyspark.sql.functions as F

    from datasketches_pig_spark.sketch.sampling import reservoir_union_states

    df = spark.range(200).withColumn("g", (F.col("id") % 4).cast("int"))
    partials = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(F.struct("id", "g")).alias("samples"),
    )
    # exact mode: k >= total retained -> union returns everything
    exact = reservoir_union_states(partials, k=1000).toPandas()
    assert sorted(exact["id"]) == list(range(200))
    # sampled mode: exactly k rows, all drawn from the retained samples
    sampled = reservoir_union_states(partials, k=50).toPandas()
    assert len(sampled) == 50
    assert sampled["id"].is_unique and set(sampled["id"]) <= set(range(200))
    # ReservoirSampling.java:63-70 k>=2 rule
    import pytest

    with pytest.raises(ValueError):
        reservoir_union_states(partials, k=1)


def test_grouped_varopt_bounded_hot_group(spark):
    """Grouped VarOpt must survive a hot group without materializing it in
    one pandas frame: per-(partition, group) partials bounded at k, then a
    bounded merge.  Check the VarOpt invariants that hold regardless of the
    split: exactly k rows per oversized group, total adjusted weight per
    group EXACTLY conserved, heavy items kept with their own weight."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.sketch.sampling import varopt_sample

    df = (
        spark.range(20000)
        .repartition(8)  # force multi-partition partials per group
        .withColumn("g", (F.col("id") % 2).cast("int"))
        .withColumn("w", (F.col("id") % 97 + 1).cast("double"))
    )
    # plant a heavy item per group
    df = df.withColumn(
        "w", F.when(F.col("id") < 2, F.lit(1e6)).otherwise(F.col("w"))
    )
    out = varopt_sample(df, k=50, weight_col="w", group_cols=["g"]).toPandas()
    truth = df.toPandas()
    for g in (0, 1):
        got = out[out.g == g]
        assert len(got) == 50
        want_total = truth[truth.g == g].w.sum()
        assert got.vo_weight.sum() == pytest.approx(want_total, rel=1e-9)
        heavy = got[got.id < 2]
        assert len(heavy) == 1 and heavy.iloc[0].vo_weight == pytest.approx(1e6)
    # plan shape: the partial stage is a narrow mapInPandas, the only
    # applyInPandas group-by runs over the bounded partials
    plan = varopt_sample(
        df, k=50, weight_col="w", group_cols=["g"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "MapInPandas" in plan


def test_grouped_reservoir_two_level_exact_k(spark):
    """Two-level grouped reservoir: exactly k per oversized group, all k
    distinct and from the group; n <= k groups returned whole (the
    reference's shortcut)."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.sketch.sampling import reservoir_sample

    df = (
        spark.range(5000)
        .repartition(8)
        .withColumn("g", (F.col("id") % 3).cast("int"))
    )
    small = spark.range(3).withColumn("g", F.lit(99).cast("int"))
    out = reservoir_sample(df.unionByName(small), k=40, group_cols=["g"]).toPandas()
    for g in (0, 1, 2):
        got = out[out.g == g]
        assert len(got) == 40 and got.id.is_unique
        assert (got.id % 3 == g).all()
    assert sorted(out[out.g == 99].id) == [0, 1, 2]


def test_mixed_k_reservoir_union_uses_min_k(spark):
    """ReservoirUnion.java:48 — merging states with different ks degrades to
    the MINIMUM valid k (per group)."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.sketch.sampling import (
        reservoir_state,
        reservoir_union_states,
    )

    df = spark.range(600).withColumn("g", (F.col("id") % 2).cast("int"))
    a = reservoir_state(df.filter(F.col("id") < 300), 30, ["g"])
    b = reservoir_state(df.filter(F.col("id") >= 300), 200, ["g"])
    assert "k" in a.columns
    merged = reservoir_union_states(a.unionByName(b), k=None, group_cols=["g"])
    counts = merged.groupBy("g").count().toPandas().set_index("g")["count"]
    # per group: state a retains min(150, 30)=30, state b min(150, 200)=150;
    # merge under k_min=30 keeps exactly 30
    assert counts[0] == counts[1] == 30
    # ungrouped min-k merge too
    a2 = reservoir_state(df.filter(F.col("id") < 300), 30)
    b2 = reservoir_state(df.filter(F.col("id") >= 300), 200)
    m2 = reservoir_union_states(a2.unionByName(b2), k=None)
    assert m2.count() == 30
    # legacy states without a k column must fail loudly for k=None
    with pytest.raises(ValueError, match="mixed-k"):
        reservoir_union_states(a.drop("k").unionByName(b.drop("k")), k=None)


def test_mixed_k_varopt_union_uses_max_k(spark):
    """VarOptUnion.java:40-42 — merging states with different ks keeps the
    LARGEST valid k, and total adjusted weight stays conserved."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.sketch.sampling import (
        varopt_state,
        varopt_union_states,
    )

    df = (
        spark.range(600)
        .withColumn("g", (F.col("id") % 2).cast("int"))
        .withColumn("w", (F.col("id") % 7 + 1).cast("double"))
    )
    a = varopt_state(df.filter(F.col("id") < 300), 40, "w", ["g"])
    b = varopt_state(df.filter(F.col("id") >= 300), 500, "w", ["g"])
    merged = varopt_union_states(a.unionByName(b), k=None, group_cols=["g"])
    got = merged.toPandas()
    truth = df.toPandas()
    for g in (0, 1):
        # a retains min(150,40)=40 rows, b all 150; union of 190 fits k=500
        assert len(got[got.g == g]) == 190
        assert got[got.g == g].vo_weight.sum() == pytest.approx(
            truth[truth.g == g].w.sum(), rel=1e-9
        )
    with pytest.raises(ValueError, match="mixed-k"):
        varopt_union_states(a.drop("k").unionByName(b.drop("k")), k=None)


def test_double_summary_modes(spark):
    """DoubleSummary.Mode analog: per-key Sum / Min / Max; bad mode fails
    loudly (reference contract: the mode enum is closed)."""
    from datasketches_pig_spark.sketch.tuple_sketch import double_summary_sketch

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, 5.0, 2.0]})
    )
    got = {
        m: double_summary_sketch(df, "k", "v", mode=m)
        .toPandas()
        .set_index("key")[f"{m}_v"]
        .to_dict()
        for m in ("sum", "min", "max")
    }
    assert got["sum"] == {"a": 6.0, "b": 2.0}
    assert got["min"] == {"a": 1.0, "b": 2.0}
    assert got["max"] == {"a": 5.0, "b": 2.0}
    with pytest.raises(ValueError, match="mode"):
        double_summary_sketch(df, "k", "v", mode="median")


def test_theta_sketch_state_roundtrip_and_union(spark, tmp_path):
    """Cross-job theta state: per-group sketches persist to parquet
    (array<long> is a plain column), read back, and union across jobs —
    exact in exact mode (retained < k), the theta.Union + PigUtil analog."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.sketch.theta import (
        theta_estimate,
        theta_sketch_agg,
        theta_union_agg,
    )

    df = spark.range(3000).withColumn("g", (F.col("id") % 3).cast("int"))
    d1 = df.filter(F.col("id") % 2 == 0)
    d2 = df.filter(F.col("id") % 2 == 1)
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    theta_sketch_agg(d1, ["g"], "id", 4096).write.parquet(p1)
    theta_sketch_agg(d2, ["g"], "id", 4096).write.parquet(p2)
    states = spark.read.parquet(p1).unionByName(spark.read.parquet(p2))
    merged = theta_union_agg(states, ["g"], "sketch", 4096)
    out = (
        merged.select("g", theta_estimate("sketch", 4096).alias("est"))
        .toPandas()
        .set_index("g")["est"]
    )
    assert all(out[g] == 1000.0 for g in (0, 1, 2))


def test_theta_sampling_probability(spark):
    """Theta ctor sampling probability p (theta/DataToSketch.java:129-135):
    initial theta = p, only hashes < p*2^64 retained, estimate = retained/p
    under k; construction-time validation like the reference; p=1 exact
    path unchanged."""
    import pytest

    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128
    from datasketches_pig_spark.sketch.theta import (
        theta_error_bounds,
        theta_estimate,
        theta_sketch_agg,
    )

    vals = list(range(1, 401))
    df = spark.createDataFrame([(1, v) for v in vals], "g int, v long")
    p = 0.25
    sk = theta_sketch_agg(df, ["g"], "v", k=256, p=p)
    row = sk.select(
        F.size("sketch").alias("n"),
        theta_estimate("sketch", 256, p=p).alias("est"),
        theta_error_bounds("sketch", 256, p=p).alias("b"),
    ).collect()[0]
    # scalar replication of the retention rule
    thr = int(p * 2.0**64)
    exp_n = sum(
        1
        for v in vals
        if murmur3_x64_128(int(v).to_bytes(8, "little", signed=True), 9001)[0] < thr
    )
    assert row["n"] == exp_n == 115
    assert row["est"] == pytest.approx(exp_n / p)
    # binomial 2-sigma bounds bracket the true distinct count here
    assert row["b"]["lb"] <= 400 <= row["b"]["ub"]
    assert row["b"]["lb"] < row["est"] < row["b"]["ub"]

    with pytest.raises(ValueError, match="sampling probability"):
        theta_sketch_agg(df, ["g"], "v", p=0.0)
    with pytest.raises(ValueError, match="sampling probability"):
        theta_sketch_agg(df, ["g"], "v", p=1.5)

    sk1 = theta_sketch_agg(df, ["g"], "v", k=1024)
    assert sk1.select(theta_estimate("sketch", 1024).alias("e")).collect()[0]["e"] == 400.0
