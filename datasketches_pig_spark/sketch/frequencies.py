"""Frequent-items operators — the ``pig/frequencies`` package analog.

The reference builds an ItemsSketch<String> (space-saving style) and extracts
(item, estimate, ub, lb) rows with a NO_FALSE_POSITIVES / NO_FALSE_NEGATIVES
error-type switch (``FrequentStringsSketchToEstimates.java:42-74``).

Spark-first: a groupBy-count is the *exact* sketch at any scale Spark can
shuffle (partial aggregation keeps the map-side state bounded per executor);
lb == est == ub then.  For bounded-memory per-partition summaries (the true
space-saving semantics) ``frequent_items_approx`` runs a per-partition
space-saving pass inside ``mapInPandas`` and merges partials — same
partial→final contract as the reference's Algebraic plumbing, with the
classic merged-error bound: est ± sum of per-partition maxError.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def frequent_items(
    df: DataFrame,
    item_col: str,
    top_n: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact heavy hitters: top_n by count with deterministic tie-break
    (count desc, item asc).  Output: [group_cols,] item, est, lb, ub."""
    keys = group_cols or []
    counted = df.groupBy(*keys, F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).alias("est")
    )
    if keys:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.desc("est"), F.asc("item"))
        ranked = counted.withColumn("__rn", F.row_number().over(w))
        out = ranked.filter(F.col("__rn") <= top_n).drop("__rn")
    else:
        out = counted.orderBy(F.desc("est"), F.asc("item")).limit(top_n)
    return out.withColumn("lb", F.col("est")).withColumn("ub", F.col("est"))


NO_FALSE_POSITIVES = "NO_FALSE_POSITIVES"
NO_FALSE_NEGATIVES = "NO_FALSE_NEGATIVES"


def frequent_items_estimates(
    df: DataFrame,
    item_col: str,
    threshold: int,
    error_type: str = NO_FALSE_POSITIVES,
    max_map_size: int = 1024,
) -> DataFrame:
    """Threshold form of the reference's estimates extractor with the
    errorType switch (``FrequentStringsSketchToEstimates.java:44-59,70-74``;
    default NO_FALSE_POSITIVES as in the no-arg constructor ``:50-52``).

    NO_FALSE_POSITIVES keeps items whose *lower* bound clears the threshold
    (every returned item is truly frequent); NO_FALSE_NEGATIVES keeps items
    whose *upper* bound clears it (no frequent item is missed).  In exact
    mode (per-partition maps never saturate) err == 0, lb == est == ub, and
    both error types return the identical exact set — which is what makes
    this oracle-checkable as ``HAVING count(*) > threshold``.
    """
    if error_type not in (NO_FALSE_POSITIVES, NO_FALSE_NEGATIVES):
        raise ValueError(f"unknown error type: {error_type!r}")
    merged = _space_saving_partials(df, item_col, max_map_size)
    with_bounds = merged.select(
        "item",
        "est",
        (F.col("est") - F.col("err")).alias("lb"),
        F.col("est").alias("ub"),
    )
    gate = F.col("lb" if error_type == NO_FALSE_POSITIVES else "ub")
    return with_bounds.filter(gate > threshold)


def frequent_items_to_string(
    df: DataFrame, item_col: str, max_map_size: int = 1024
) -> DataFrame:
    """Debug summary — ``frequencies/.../SketchToString`` analog: map size /
    stream length / distinct items / total merged error.  Error is 0 while
    the per-partition maps never saturate (exact mode ⇒ oracle-checkable)."""
    if max_map_size < 2 or (max_map_size & (max_map_size - 1)) != 0:
        raise ValueError(
            f"max_map_size must be a power of 2 >= 2, got {max_map_size} "
            "(reference contract: ItemsSketch maxMapSize check)"
        )
    merged = _space_saving_partials(df, item_col, max_map_size)
    return merged.agg(
        F.concat(
            F.lit(f"FrequentItems sketch: maxMapSize={max_map_size}, items="),
            F.count(F.lit(1)).cast("string"),
            F.lit(", streamLen="),
            F.sum("est").cast("string"),
            F.lit(", totalError="),
            F.sum("err").cast("string"),
        ).alias("summary")
    )


def _space_saving_partials(
    df: DataFrame, item_col: str, max_map_size: int
) -> DataFrame:
    """Per-partition space-saving partials merged per item (sum est/err) —
    the Algebraic initial/final split, state ≤ max_map_size per partition."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        errors: dict[str, int] = {}
        for pdf in batches:
            for it in pdf[item_col]:
                if it is None:
                    continue
                if it in counters:
                    counters[it] += 1
                elif len(counters) < max_map_size:
                    counters[it] = 1
                    errors[it] = 0
                else:
                    victim = min(counters, key=counters.get)
                    verr = counters.pop(victim)
                    errors.pop(victim)
                    counters[it] = verr + 1
                    errors[it] = verr
        yield pd.DataFrame(
            {
                "item": list(counters),
                "est": [counters[i] for i in counters],
                "err": [errors[i] for i in counters],
            }
        )

    partials = df.select(item_col).mapInPandas(partial, "item string, est long, err long")
    return partials.groupBy("item").agg(
        F.sum("est").alias("est"), F.sum("err").alias("err")
    )


def frequent_items_approx(
    df: DataFrame, item_col: str, top_n: int, max_map_size: int = 1024
) -> DataFrame:
    """Bounded-memory heavy hitters: per-partition space-saving partials →
    merge (sum est / sum err per item) → top_n.  NO_FALSE_NEGATIVES-flavored
    bounds: ub = est, lb = est - err
    (``FrequentStringsSketchToEstimates.java:44-59``)."""
    if max_map_size < 2 or (max_map_size & (max_map_size - 1)) != 0:
        raise ValueError(
            f"max_map_size must be a power of 2 >= 2, got {max_map_size} "
            "(reference contract: ItemsSketch maxMapSize check)"
        )
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    merged = _space_saving_partials(df, item_col, max_map_size)
    return (
        merged.orderBy(F.desc("est"), F.asc("item"))
        .limit(top_n)
        .select(
            "item",
            "est",
            (F.col("est") - F.col("err")).alias("lb"),
            F.col("est").alias("ub"),
        )
    )
