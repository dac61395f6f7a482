"""Theta/KMV sketch operators, DataFrame-native.

The reference's theta package (``pig/theta/DataToSketch.java:54`` et al.) is a
bottom-k (KMV) sketch over MurmurHash3(seed 9001) values with full set
algebra.  Here the sketch is an ``array<long>`` column: the k smallest hash
values in *sign-flipped* int64 representation (signed order == unsigned
order), built with pure relational operators — hash UDF → distinct →
salted two-level bottom-k → sorted array.  Catalyst handles partial aggregation,
shuffle and codegen; no sketch bytes, no custom aggregation buffers.

Exact-mode contract preserved: below k entries the sketch retains everything
and every derived statistic is exact (``dictionary.html:62-63``) — which is
what makes these operators DuckDB-oracle-checkable at test scale.

Set algebra (``Union.java:53``, ``Intersect.java:50``, ``AexcludeB.java:48``,
``JaccardSimilarity.java:41``) maps onto array_union/array_intersect/
array_except over sketch columns, re-trimmed to bottom-k.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

from datasketches_pig_spark.functions.spark_udfs import (
    murmur3_h1_long_expr,
    murmur3_h1_ordered,
)

DEFAULT_K = 4096  # reference default nominal entries (dictionary.html:42-44)
_N_SALTS = 32  # two-level bottom-k fan-out; merge state <= _N_SALTS * k per group
_TWO63 = 2.0**63
_TWO64 = 2.0**64


def _two_level_bottom_k(
    hashed: DataFrame, group_cols: list[str], k: int, n_salts: int = _N_SALTS
) -> DataFrame:
    """Bounded-state bottom-k over a NOT-necessarily-distinct hash stream:
    the Algebraic initial/final split of ``theta/DataToSketch.java:289-302``
    expressed relationally.

    Level 1 computes the k smallest DISTINCT hashes per (group, salt) in a
    single window pass — ``dense_rank <= k`` bounds to the k smallest
    distinct values and the ``lag != __h`` atom keeps one row per value
    (both functions share one window spec, so this is ONE exchange + one
    spillable external sort; r8 replaced the former dropDuplicates +
    row_number shape, which shuffled the stream twice, with this single
    exchange — same result, one fewer shuffle of the full hash stream).
    The sort is spread over ``n_salts`` tasks per group, so a group with
    10^9 distinct hashes is never a single-task sort; duplicates of one
    value always share a salt (salt hashes __h), keeping partials disjoint.
    Level 2 merges at most ``n_salts`` k-arrays per group (state <=
    n_salts * k int64s, ~1 MB at k=4096/salts=32).
    """
    salted = hashed.withColumn("__salt", F.pmod(F.xxhash64("__h"), F.lit(n_salts)))
    w = Window.partitionBy(*group_cols, "__salt").orderBy("__h")
    partial = (
        salted.select(
            *group_cols,
            "__salt",
            "__h",
            F.dense_rank().over(w).alias("__rk"),
            F.lag("__h").over(w).alias("__prev"),
        )
        .filter(
            (F.col("__rk") <= k)
            & (F.col("__prev").isNull() | (F.col("__prev") != F.col("__h")))
        )
        .groupBy(*group_cols, "__salt")
        .agg(F.array_sort(F.collect_list("__h")).alias("__p"))
    )
    return partial.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__p"))), 1, k).alias("sketch")
    )


def sampling_threshold_ordered(p: float) -> int:
    """Signed sign-flipped threshold for sampling probability ``p``: an
    ordered hash value is retained iff it is < this (unsigned hash <
    p·2^64).  The float product matches the scalar oracle replication
    bit-for-bit (both sides compute ``int(p * 2.0**64)``)."""
    return int(p * _TWO64) - (1 << 63)


def theta_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = DEFAULT_K,
    seed: int = 9001,
    p: float = 1.0,
) -> DataFrame:
    """Build a KMV sketch per group: group_cols + ``sketch array<long>``.

    Scale shape: the raw hash stream shuffles ONCE, straight into the
    salted two-level bottom-k (dedup + rank in a single window pass per
    (group, salt) shard — see ``_two_level_bottom_k``), so no task ever
    sorts a whole group and no second full-stream exchange exists.

    ``p``: the reference ctor's up-front sampling probability
    (``theta/DataToSketch.java:129-135`` — validated at construction like
    the reference validates at plan time).  With p < 1 the sketch's initial
    theta is p: only hashes below p·2^64 are retained (the filter runs
    BEFORE the shuffle, so at scale p<1 also cuts shuffle volume by p), and
    estimates divide by the effective theta — ``theta_estimate(..., p=p)``.
    """
    if k < 16 or (k & (k - 1)) != 0:
        raise ValueError(
            f"theta sketch size must be a power of 2 >= 16, got {k} "
            "(reference contract: theta/DataToSketch.java sketch-size check)"
        )
    if not (0.0 < p <= 1.0):
        raise ValueError(
            f"theta sampling probability p must be in (0, 1], got {p} "
            "(reference contract: theta/DataToSketch.java:129-135)"
        )
    dtype = df.schema[value_col].dataType
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        # integral values hash as their 8-byte LE representation — pure
        # whole-stage-codegen JVM algebra, no Python boundary (guide §4.1;
        # bit-identical to the pandas kernel, parity-tested).  The isNotNull
        # prefilter replaces the former dropna on the UDF output: it pushes
        # to the scan (PushedFilters) instead of duplicating hash evaluation
        # around a post-hoc filter (guide §4.4's duplicated-UDF pattern).
        # The hash needs wrap-around long arithmetic, and Spark fixes each
        # multiply/add's overflow mode when the DataFrame is built, so build
        # the projection under legacy arithmetic whatever the caller's ANSI
        # setting, and restore that setting after.
        conf = df.sparkSession.conf
        ansi = conf.get("spark.sql.ansi.enabled")
        conf.set("spark.sql.ansi.enabled", "false")
        try:
            h = murmur3_h1_long_expr(F.col(value_col), seed, ordered=True)
            hashed = df.where(F.col(value_col).isNotNull()).select(
                *group_cols, h.alias("__h")
            )
        finally:
            conf.set("spark.sql.ansi.enabled", ansi)
    else:
        hashed = df.select(
            *group_cols, murmur3_h1_ordered(F.col(value_col), seed).alias("__h")
        ).dropna(subset=["__h"])
    if p < 1.0:
        hashed = hashed.filter(F.col("__h") < F.lit(sampling_threshold_ordered(p)))
    return _two_level_bottom_k(hashed, group_cols, k)


def theta_estimate(sketch: Column | str, k: int = DEFAULT_K, p: float = 1.0) -> Column:
    """Distinct estimate from a sketch column (``theta/Estimate.java:62-68``):
    retained/p while under k (exact when p == 1, unbiased binomial estimate
    when p < 1 — theta starts at p), else (k-1)/theta."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    n = F.size(s)
    kth = F.element_at(s, k).cast("double")  # sign-flipped int64
    theta = (kth + F.lit(_TWO63) + F.lit(1.0)) / F.lit(_TWO64)
    return F.when(n < k, n.cast("double") / F.lit(p)).otherwise(
        F.lit(float(k - 1)) / theta
    )


def theta_error_bounds(
    sketch: Column | str, k: int = DEFAULT_K, p: float = 1.0
) -> Column:
    """(est, ub, lb) struct at ±2 std dev (``theta/ErrorBounds.java:83-93``).
    In exact mode (p == 1, retained < k) ub == lb == est (zero error); with
    p < 1 the under-k region carries binomial sampling error — relative 2σ
    = 2·sqrt((1-p)/(n·p)) for n retained."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    est = theta_estimate(s, k, p)
    n = F.size(s)
    rse2 = F.lit(2.0) / F.sqrt(F.lit(float(k)))
    under_k = n < k
    if p < 1.0:
        brse2 = F.lit(2.0) * F.sqrt(
            F.lit(1.0 - p) / (F.greatest(n, F.lit(1)).cast("double") * F.lit(p))
        )
        ub = F.when(under_k, est * (F.lit(1.0) + brse2)).otherwise(
            est * (F.lit(1.0) + rse2)
        )
        lb = F.when(under_k, est * (F.lit(1.0) - brse2)).otherwise(
            est * (F.lit(1.0) - rse2)
        )
    else:
        ub = F.when(under_k, est).otherwise(est * (F.lit(1.0) + rse2))
        lb = F.when(under_k, est).otherwise(est * (F.lit(1.0) - rse2))
    return F.struct(est.alias("est"), ub.alias("ub"), lb.alias("lb"))


def theta_sketch_to_string(sketch: Column | str, k: int = DEFAULT_K) -> Column:
    """Human-readable sketch summary — the ``theta/SketchToString.java:39``
    debug analog, as a pure column expression (retained entries, exact-mode
    flag, theta fraction, estimate)."""
    if k < 16 or (k & (k - 1)) != 0:
        raise ValueError(
            f"theta sketch size must be a power of 2 >= 16, got {k} "
            "(reference contract: theta/DataToSketch.java sketch-size check)"
        )
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    n = F.size(s)
    exact = n < k
    kth = F.element_at(s, k).cast("double")
    theta = F.when(exact, F.lit(1.0)).otherwise(
        (kth + F.lit(_TWO63) + F.lit(1.0)) / F.lit(_TWO64)
    )
    return F.concat(
        F.lit("KMV theta sketch: retained="),
        n.cast("string"),
        F.lit(", k="),
        F.lit(k).cast("string"),
        F.lit(", exact="),
        exact.cast("string"),
        F.lit(", theta="),
        F.round(theta, 6).cast("string"),
        F.lit(", estimate="),
        F.round(theta_estimate(s, k), 1).cast("string"),
    )


def _bottom_k(arr: Column, k: int) -> Column:
    return F.slice(F.array_sort(arr), 1, k)


def theta_union_sketches(a: Column, b: Column, k: int = DEFAULT_K) -> Column:
    """Merge two sketch columns (``theta/Union.java:186``)."""
    return _bottom_k(F.array_union(a, b), k)


def theta_union_agg(df: DataFrame, group_cols: list[str], sketch_col: str, k: int = DEFAULT_K) -> DataFrame:
    """Merge many sketches per group (rollup): explode → distinct → bottom-k.
    This is the Algebraic final-fold analog; Catalyst runs it as partial/final
    hash aggregation over the exploded hashes."""
    exploded = df.select(*group_cols, F.explode(sketch_col).alias("__h"))
    return _two_level_bottom_k(exploded, group_cols, k)


def theta_intersect(a: Column, b: Column, k: int = DEFAULT_K) -> Column:
    """Set intersection of two sketches (``theta/Intersect.java:131-144``).
    Exact below k; above k this keeps common hashes below min(theta) —
    the standard KMV intersection."""
    return _bottom_k(F.array_intersect(a, b), k)


def theta_a_not_b(a: Column, b: Column, k: int = DEFAULT_K) -> Column:
    """A-and-not-B (``theta/AexcludeB.java:117-139``)."""
    return _bottom_k(F.array_except(a, b), k)


def theta_intersect_estimate(a: Column, b: Column, k: int = DEFAULT_K) -> Column:
    """Distinct estimate of A∩B: |common ∩ bottom-k(union)| / theta(union)."""
    union = _bottom_k(F.array_union(a, b), k)
    common_in_window = F.array_intersect(union, F.array_intersect(a, b))
    exact = (F.size(a) < k) & (F.size(b) < k)
    kth = F.element_at(union, k).cast("double")
    theta = (kth + F.lit(_TWO63) + F.lit(1.0)) / F.lit(_TWO64)
    return F.when(exact, F.size(common_in_window).cast("double")).otherwise(
        F.size(common_in_window).cast("double") / theta
    )


def theta_jaccard(a: Column, b: Column, k: int = DEFAULT_K) -> Column:
    """Jaccard estimate from two sketches (``theta/JaccardSimilarity.java:115-136``):
    fraction of the union's bottom-k present in both.  Exact below k."""
    union = _bottom_k(F.array_union(a, b), k)
    hits = F.size(F.array_intersect(union, F.array_intersect(a, b)))
    return F.when(F.size(union) > 0, hits.cast("double") / F.size(union)).otherwise(
        F.lit(0.0)
    )


def theta_jaccard_bounds(a: Column, b: Column, k: int = DEFAULT_K) -> Column:
    """(lb, est, ub) struct at ±2σ / 95.4% confidence
    (``theta/JaccardSimilarity.java:81``); collapses to exact in exact mode."""
    est = theta_jaccard(a, b, k)
    exact = (F.size(a) < k) & (F.size(b) < k)
    sigma2 = F.lit(2.0) * F.sqrt(est * (F.lit(1.0) - est) / F.lit(float(k)))
    lb = F.when(exact, est).otherwise(F.greatest(est - sigma2, F.lit(0.0)))
    ub = F.when(exact, est).otherwise(F.least(est + sigma2, F.lit(1.0)))
    return F.struct(lb.alias("lb"), est.alias("est"), ub.alias("ub"))
