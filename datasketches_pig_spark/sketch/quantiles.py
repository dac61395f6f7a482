"""Quantiles operators — the KLL (``pig/kll``) and classic quantiles
(``pig/quantiles``) package analogs.

Spark-first mapping: Spark's native ``percentile_approx`` (a mergeable
quantile summary with the same partial→final aggregation contract as the
reference's Algebraic UDFs) is the approximate path; exact ``percentile``
is the exact-mode path used when results must be bit-comparable to an oracle.
PMF/CDF/rank map to conditional aggregation — pure JVM expressions, no UDFs.

Interval semantics follow the reference: PMF mass over m split points is m+1
fractions with intervals [l, r) (``kll/GetPmf.java:33-37``); CDF/rank mass is
strictly-below the split (``kll/GetRank.java:37``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def kll_to_string(df: DataFrame, value_col: str, k: int = 200) -> DataFrame:
    """Debug summary — ``kll/SketchToString.java`` analog: k / n / min / max
    line.  The relational engine sees the exact stream, so the summary is
    deterministic and oracle-checkable."""
    if not (8 <= k <= 65535):
        raise ValueError(
            f"KLL k must be in [8, 65535], got {k} "
            "(reference contract: KllFloatsSketch k range)"
        )
    return df.agg(
        F.concat(
            F.lit(f"KLL sketch: k={k}, n="),
            F.count(value_col).cast("string"),
            F.lit(", min="),
            F.round(F.min(value_col), 4).cast("string"),
            F.lit(", max="),
            F.round(F.max(value_col), 4).cast("string"),
        ).alias("summary")
    )


def _check_splits(op: str, split_points: list[float]) -> None:
    """DataSketches contract: split points must be unique and monotonically
    increasing (``KllFloatsSketch.getPMF`` / ``getCDF`` preconditions)."""
    if not split_points:
        raise ValueError(f"{op}: split_points must be non-empty")
    for lo, hi in zip(split_points, split_points[1:]):
        if not lo < hi:
            raise ValueError(
                f"{op}: split_points must be strictly increasing, got {split_points}"
            )


def get_quantiles(
    df: DataFrame,
    value_col: str,
    fractions: list[float],
    group_cols: list[str] | None = None,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Values at ranks (``kll/GetQuantiles.java:43-76``).  One output column
    per fraction, named q_<pct>."""
    if not fractions:
        raise ValueError("get_quantiles: fractions must be non-empty")
    for q in fractions:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"get_quantiles: fraction {q} outside [0, 1]")
    aggs = []
    for q in fractions:
        name = f"q_{str(q).replace('.', '_')}"
        col = (
            F.expr(f"percentile({value_col}, {q})")
            if exact
            else F.percentile_approx(value_col, q, accuracy)
        )
        aggs.append(col.alias(name))
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def get_even_quantiles(
    df: DataFrame, value_col: str, n: int, group_cols: list[str] | None = None
) -> DataFrame:
    """n evenly-spaced quantiles including 0 and 1 (the integer form of
    ``kll/GetQuantiles.java:43-76``; the reference requires n ≥ 2 so the
    endpoints are distinct)."""
    if n < 2:
        raise ValueError(f"get_even_quantiles: n must be >= 2, got {n}")
    fracs = [i / (n - 1) for i in range(n)]
    return get_quantiles(df, value_col, fracs, group_cols)


def get_pmf(
    df: DataFrame,
    value_col: str,
    split_points: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """PMF over split points → m+1 mass fractions, intervals [l, r)
    (``kll/GetPmf.java:40``).  Columns pmf_0..pmf_m."""
    _check_splits("get_pmf", split_points)
    v = F.col(value_col)
    total = F.count(v)
    edges = [None, *split_points, None]
    aggs = []
    for i in range(len(split_points) + 1):
        lo, hi = edges[i], edges[i + 1]
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= lo)
        if hi is not None:
            cond = cond & (v < hi)
        aggs.append(
            (F.sum(F.when(cond, 1).otherwise(0)) / total).alias(f"pmf_{i}")
        )
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def get_cdf(
    df: DataFrame,
    value_col: str,
    split_points: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """CDF at split points: mass strictly below each split
    (``kll/GetCdf.java:38``), plus a trailing 1.0.  Columns cdf_0..cdf_m."""
    _check_splits("get_cdf", split_points)
    v = F.col(value_col)
    total = F.count(v)
    aggs = [
        (F.sum(F.when(v < s, 1).otherwise(0)) / total).alias(f"cdf_{i}")
        for i, s in enumerate(split_points)
    ]
    aggs.append(F.lit(1.0).alias(f"cdf_{len(split_points)}"))
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def get_rank(
    df: DataFrame,
    value_col: str,
    value: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Normalized rank of a value: mass strictly below it
    (``kll/GetRank.java:37``)."""
    v = F.col(value_col)
    agg = (F.sum(F.when(v < value, 1).otherwise(0)) / F.count(v)).alias("rank")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)
