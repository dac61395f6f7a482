"""Unit tests for the MurmurHash3 x64 128 kernel.

Mirrors the reference's test style (``hash/MurmurHash3Test.java``): null/empty
inputs → null, seed variants, type coverage — plus cross-validation of the
vectorized numpy kernel against the independent scalar implementation.
"""

import numpy as np
import pytest

from datasketches_pig_spark.functions.murmur3 import (
    murmur3_bytes_batch,
    murmur3_long_batch,
    murmur3_x64_128,
    murmur3_x64_128_fixed,
)


def test_empty_input_seed_zero_is_fmix_of_seed():
    # With seed 0 and no data, the algorithm collapses to (0, 0).
    assert murmur3_x64_128(b"", 0) == (0, 0)


def test_scalar_deterministic_and_seed_sensitive():
    h_a = murmur3_x64_128(b"hello world", 0)
    assert h_a == murmur3_x64_128(b"hello world", 0)
    assert h_a != murmur3_x64_128(b"hello world", 9001)
    assert h_a != murmur3_x64_128(b"hello worlD", 0)


def test_scalar_outputs_are_uint64():
    for data in [b"a", b"0123456789abcdef", b"x" * 1000]:
        h1, h2 = murmur3_x64_128(data, 9001)
        assert 0 <= h1 <= 0xFFFFFFFFFFFFFFFF
        assert 0 <= h2 <= 0xFFFFFFFFFFFFFFFF


@pytest.mark.parametrize("length", [1, 2, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33, 100, 255])
@pytest.mark.parametrize("seed", [0, 1, 9001, 0xFFFFFFFF])
def test_vectorized_matches_scalar_all_tail_lengths(length, seed):
    rng = np.random.default_rng(42 + length)
    batch = rng.integers(0, 256, size=(50, length), dtype=np.uint8)
    h1, h2 = murmur3_x64_128_fixed(batch, seed)
    for i in range(batch.shape[0]):
        e1, e2 = murmur3_x64_128(batch[i].tobytes(), seed)
        assert h1[i] == e1, f"h1 mismatch len={length} row={i}"
        assert h2[i] == e2, f"h2 mismatch len={length} row={i}"


def test_bytes_batch_null_and_empty_are_invalid():
    # null/empty → null, per hash/MurmurHash3.java:168-181
    h1, h2, valid = murmur3_bytes_batch([b"abc", None, b"", b"abc"], seed=9001)
    assert valid.tolist() == [True, False, False, True]
    assert h1[0] == h1[3] and h2[0] == h2[3]
    e1, e2 = murmur3_x64_128(b"abc", 9001)
    assert (h1[0], h2[0]) == (e1, e2)


def test_bytes_batch_mixed_lengths():
    vals = [b"a", b"ab", b"abc", b"a" * 40, b"b" * 40]
    h1, h2, valid = murmur3_bytes_batch(vals, seed=7)
    assert valid.all()
    for i, v in enumerate(vals):
        assert (int(h1[i]), int(h2[i])) == murmur3_x64_128(v, 7)


def test_long_batch_matches_little_endian_bytes():
    vals = np.array([0, 1, -1, 2**63 - 1, -(2**63), 9001], dtype=np.int64)
    h1, h2 = murmur3_long_batch(vals, seed=9001)
    for i, v in enumerate(vals):
        raw = int(np.uint64(vals[i].view(np.uint64))).to_bytes(8, "little")
        assert (int(h1[i]), int(h2[i])) == murmur3_x64_128(raw, 9001)


def test_string_utf8_rule():
    # strings are hashed as their UTF-8 encoding (hash/MurmurHash3.java:179)
    s = "héllo — ünïcode"
    h1, h2, valid = murmur3_bytes_batch([s.encode("utf-8")], seed=0)
    assert valid[0]
    assert (int(h1[0]), int(h2[0])) == murmur3_x64_128(s.encode("utf-8"), 0)


def test_distribution_sanity():
    # 64k sequential longs should spread ~uniformly over 16 buckets (χ² sanity)
    vals = np.arange(65536, dtype=np.int64)
    h1, _ = murmur3_long_batch(vals, seed=9001)
    counts = np.bincount((h1 >> np.uint64(60)).astype(np.int64), minlength=16)
    expected = 65536 / 16
    chi2 = ((counts - expected) ** 2 / expected).sum()
    assert chi2 < 60, f"suspicious bucket skew: {counts}"


def test_udf_null_in_batch_keeps_neighbor_precision(spark):
    # Regression: None-into-int64 masking used to cast the whole Arrow batch
    # to float64, truncating every hash below 2^53 precision whenever any row
    # in the batch was null.  Nulls must yield null AND leave neighbors exact.
    import pyspark.sql.functions as F

    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128
    from datasketches_pig_spark.functions.spark_udfs import murmur3_128, murmur3_h1

    df = spark.createDataFrame(
        [("small ring",), (None,), ("red widget",)], ["s"]
    )
    rows = {
        r["s"]: (r["h"], r["full"])
        for r in df.select(
            "s",
            murmur3_h1(F.col("s"), seed=9001).alias("h"),
            murmur3_128(F.col("s"), seed=9001, divisor=7).alias("full"),
        ).collect()
    }

    def ts(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    for s in ("small ring", "red widget"):
        h1, h2 = murmur3_x64_128(s.encode("utf-8"), 9001)
        got_h, got_full = rows[s]
        assert got_h == ts(h1), f"{s}: h1 mangled"
        assert (got_full["h0"], got_full["h1"]) == (ts(h1), ts(h2))
        assert got_full["mod"] == ((h2 << 64) | h1) % 7
    assert rows[None][0] is None
    assert rows[None][1]["h0"] is None


def test_udf_float_zero_and_nan_canonicalization(spark):
    # reference parity (theta/DataToSketchTest.java:195-199): -0.0 and +0.0
    # must hash identically; NaN updates are ignored (→ null here, as the
    # sketch layer drops null hashes), null stays null
    import pyspark.sql.functions as F

    from datasketches_pig_spark.functions.spark_udfs import murmur3_h1

    df = spark.createDataFrame(
        [(1, 0.0), (2, -0.0), (3, float("nan")), (4, None)],
        "i long, v double",
    )
    rows = {r["i"]: r["h"] for r in df.select("i", murmur3_h1(F.col("v")).alias("h")).collect()}
    assert rows[1] == rows[2] and rows[1] is not None, "-0.0 and +0.0 must collide"
    assert rows[3] is None, "NaN is a no-op update"
    assert rows[4] is None


def test_negative_zero_canonicalization(spark):
    """DataSketches contract (theta/DataToSketchTest.java:195-199): -0.0 and
    +0.0 hash identically, so a stream containing both sketches ONE distinct
    value; NaN rides the null path (no update)."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.functions.spark_udfs import murmur3_h1
    from datasketches_pig_spark.sketch.theta import theta_estimate, theta_sketch_agg

    df = spark.createDataFrame(
        [("g", 0.0), ("g", -0.0), ("g", float("nan"))], "g string, v double"
    )
    hashes = (
        df.select(murmur3_h1(F.col("v")).alias("h")).toPandas()["h"].tolist()
    )
    assert hashes[0] == hashes[1]  # -0.0 == +0.0
    assert hashes[2] is None or hashes[2] != hashes[2]  # NaN -> null

    sk = theta_sketch_agg(df, ["g"], "v", k=64)
    est = sk.select(theta_estimate("sketch", 64).alias("e")).collect()[0]["e"]
    assert est == 1.0


def test_register_sql_functions_matches_column_api(spark):
    """SQL-registered hash functions (the Pig DEFINE-surface analog) must
    agree with the Column API and the scalar spec, including the bound
    divisor and null-on-empty semantics."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128
    from datasketches_pig_spark.functions.spark_udfs import (
        murmur3_h1,
        register_sql_functions,
    )

    names = register_sql_functions(spark, seed=9001, divisor=7)
    assert names == ["ds_murmur3_h1", "ds_murmur3_h1_ordered", "ds_murmur3_128"]
    df = spark.createDataFrame(
        [("hello",), ("",), ("world",)], "s string"
    )
    df.createOrReplaceTempView("t_reg")
    got = spark.sql(
        "SELECT s, ds_murmur3_h1(s) AS h, ds_murmur3_128(s) AS full FROM t_reg"
    ).collect()
    by_s = {r["s"]: r for r in got}
    want_h1, want_h2 = murmur3_x64_128(b"hello", 9001)
    h_signed = want_h1 - (1 << 64) if want_h1 >= (1 << 63) else want_h1
    assert by_s["hello"]["h"] == h_signed
    assert by_s["hello"]["full"]["mod"] == ((want_h2 << 64) | want_h1) % 7
    assert by_s[""]["h"] is None and by_s[""]["full"]["h0"] is None
    # column API agreement
    col = df.select("s", murmur3_h1(F.col("s")).alias("h")).collect()
    assert {r["s"]: r["h"] for r in col} == {r["s"]: r["h"] for r in got}


def test_register_sql_functions_no_divisor_and_validation(spark):
    """The divisor-less registration path must produce typed null mod (not
    an object column that breaks Arrow), and an out-of-int32-range divisor
    must fail at registration time, not per-batch at runtime."""
    import pytest

    from datasketches_pig_spark.functions.spark_udfs import (
        murmur3_128,
        register_sql_functions,
    )

    register_sql_functions(spark, prefix="nodiv_", seed=9001)  # no divisor
    df = spark.createDataFrame([("hello",), ("",)], "s string")
    df.createOrReplaceTempView("t_nodiv")
    got = spark.sql(
        "SELECT s, nodiv_murmur3_128(s) AS full FROM t_nodiv"
    ).collect()
    by_s = {r["s"]: r for r in got}
    assert by_s["hello"]["full"]["mod"] is None  # divisor unbound -> null
    assert by_s["hello"]["full"]["h0"] is not None
    assert by_s[""]["full"]["h0"] is None

    with pytest.raises(ValueError, match="divisor"):
        register_sql_functions(spark, prefix="bad_", divisor=2**31)
    with pytest.raises(ValueError, match="divisor"):
        register_sql_functions(spark, prefix="bad_", divisor=0)
    with pytest.raises(ValueError, match="divisor"):
        murmur3_128("s", divisor=2**40)


def test_jvm_long_expr_parity(spark):
    """murmur3_h1_long_expr (pure whole-stage-codegen JVM algebra) must be
    bit-identical to the numpy kernel for int64 inputs, in both plain and
    sign-flipped (ordered) forms, including nulls and the extremes."""
    import pandas as pd
    import pyspark.sql.functions as F

    from datasketches_pig_spark.functions.murmur3 import murmur3_long_batch
    from datasketches_pig_spark.functions.spark_udfs import (
        SIGN_FLIP,
        murmur3_h1_long_expr,
    )

    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.integers(-(2**63), 2**63, size=500, dtype=np.int64),
            np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
        ]
    )
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = df.select(
        murmur3_h1_long_expr(F.col("v"), 9001).alias("h"),
        murmur3_h1_long_expr(F.col("v"), 9001, ordered=True).alias("ho"),
        murmur3_h1_long_expr(F.col("v"), 42).alias("h42"),
    ).toPandas()
    exp1, _ = murmur3_long_batch(vals, 9001)
    exp42, _ = murmur3_long_batch(vals, 42)
    assert np.array_equal(got["h"].to_numpy(np.int64).view(np.uint64), exp1)
    assert np.array_equal(
        got["ho"].to_numpy(np.int64).view(np.uint64), exp1 ^ SIGN_FLIP
    )
    assert np.array_equal(got["h42"].to_numpy(np.int64).view(np.uint64), exp42)
    # null in → null out
    pdf = pd.DataFrame({"v": pd.array([1, None], dtype="Int64")})
    nulls = (
        spark.createDataFrame(pdf)
        .select(murmur3_h1_long_expr(F.col("v"), 9001).alias("h"))
        .collect()
    )
    assert nulls[0]["h"] is not None and nulls[1]["h"] is None


THETA_QUERIES = (
    "theta_distinct",
    "theta_union",
    "theta_intersect",
    "theta_anotb",
    "theta_jaccard",
    "theta_bounds",
    "sketch_summaries",
    "theta_p",
    "theta_jaccard_bounds",
    "theta_to_string",
)


def test_theta_queries_match_in_ansi_session(spark):
    """The theta queries hash integral keys with wrap-around long algebra.
    In a caller's vanilla session (ANSI on, partition coalescing on, default
    shuffle width) they must give the same values as in ``get_spark``'s
    session rather than raise ARITHMETIC_OVERFLOW, and must leave that
    session's ANSI setting as they found it."""
    from conftest import SF_DIR
    from tools.check_oracle import value_hash

    from datasketches_pig_spark.queries import registry

    vanilla = spark.newSession()
    vanilla.conf.set("spark.sql.ansi.enabled", "true")
    vanilla.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    vanilla.conf.unset("spark.sql.shuffle.partitions")
    assert vanilla.conf.get("spark.sql.shuffle.partitions") == "200"

    reg = registry()
    for name in THETA_QUERIES:
        hashes = []
        for session in (spark, vanilla):
            df = reg[name][0](session, SF_DIR)
            hashes.append(value_hash(df.columns, [tuple(r) for r in df.collect()]))
        assert hashes[0] == hashes[1], name
    assert vanilla.conf.get("spark.sql.ansi.enabled") == "true"


def test_two_level_bottom_k_single_window_parity(spark):
    """The r8 single-exchange bottom-k (dense_rank + lag dedup in one window
    pass) must equal a brute-force distinct-sort-slice per group, on a
    duplicate-heavy stream."""
    import pandas as pd
    import pyspark.sql.functions as F

    from datasketches_pig_spark.sketch.theta import _two_level_bottom_k

    rng = np.random.default_rng(11)
    g = rng.integers(0, 3, size=5000)
    h = rng.integers(-1000, 1000, size=5000).astype(np.int64)  # heavy dups
    df = spark.createDataFrame(pd.DataFrame({"g": g, "__h": h}))
    k = 50
    got = {
        r["g"]: list(r["sketch"])
        for r in _two_level_bottom_k(df, ["g"], k).collect()
    }
    for gv in np.unique(g):
        exp = sorted(set(h[g == gv]))[:k]
        assert got[int(gv)] == exp
