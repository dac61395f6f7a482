"""Tuple-sketch operators — the ``pig/tuple`` package analog ("group-by inside
a sketch": distinct keys, each carrying N summed double values).

Spark-first: the sketch exists in the reference only to bound memory inside a
single reducer; in Spark ``groupBy(key).agg(sum…)`` already runs with bounded
memory via partial aggregation + spill, so the *exact* relational form is the
idiomatic mapping (SURVEY §2.9).  The derived statistics keep the reference's
output shapes: estimates, means, variances, and the Welch t-test p-values
between two sketches (``ArrayOfDoublesSketchesToPValueEstimates.java:41-80``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datasketches_pig_spark.functions.stats import welch_t_test


def aod_sketch(df: DataFrame, key_col: str, value_cols: list[str]) -> DataFrame:
    """DataToArrayOfDoublesSketch analog: per distinct key, the summed values
    (``tuple/DataToArrayOfDoublesSketchBase.java:98``)."""
    if not value_cols:
        raise ValueError(
            "aod_sketch: value_cols must be non-empty "
            "(reference contract: numValues >= 1, DataToArrayOfDoublesSketchBase)"
        )
    return df.groupBy(F.col(key_col).alias("key")).agg(
        *[F.sum(v).cast("double").alias(f"sum_{v}") for v in value_cols]
    )


def aod_estimates(df: DataFrame, key_col: str, value_cols: list[str]) -> DataFrame:
    """ArrayOfDoublesSketchToEstimates analog: (distinct-key estimate,
    population sums) (``ArrayOfDoublesSketchToEstimates.java:42``)."""
    return df.agg(
        F.countDistinct(key_col).cast("double").alias("est"),
        *[F.sum(v).cast("double").alias(f"sum_{v}") for v in value_cols],
    )


def aod_estimate_with_bounds(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    k: int = 4096,
    exact: bool = True,
) -> DataFrame:
    """(est, lb, ub, population sums) — the
    ``tuple/ArrayOfDoublesSketchToEstimateAndErrorBounds.java:42-58`` analog
    (theta-style ±2σ bounds on the distinct-key estimate; the value sums are
    exact either way because Spark's partial aggregation never samples).

    exact=True (default, and the oracle mode): countDistinct with
    lb == ub == est — the reference's unsaturated-sketch behavior, where
    getLowerBound == getEstimate below k retained keys.
    """
    if exact:
        est = F.countDistinct(key_col).cast("double")
        lb, ub = est, est
    else:
        import math

        rse2 = 2.0 / math.sqrt(float(k))
        est = F.approx_count_distinct(key_col).cast("double")
        lb, ub = est * (1.0 - rse2), est * (1.0 + rse2)
    return df.agg(
        est.alias("est"),
        lb.alias("lb"),
        ub.alias("ub"),
        *[F.sum(v).cast("double").alias(f"sum_{v}") for v in value_cols],
    )


def aod_num_retained(df: DataFrame, key_col: str) -> DataFrame:
    """Retained-entries introspection —
    ``tuple/ArrayOfDoublesSketchToNumberOfRetainedEntries.java:39``.  The
    relational sketch retains every distinct key (no sampling below theta),
    so this is the distinct-key count as an int."""
    return df.agg(F.countDistinct(key_col).cast("int").alias("n_retained"))


def aod_means(df: DataFrame, key_col: str, value_cols: list[str]) -> DataFrame:
    """Per-column mean over the per-key summed values
    (``ArrayOfDoublesSketchToMeans.java:38``)."""
    sk = aod_sketch(df, key_col, value_cols)
    return sk.agg(*[F.avg(f"sum_{v}").alias(f"mean_{v}") for v in value_cols])


def aod_variances(df: DataFrame, key_col: str, value_cols: list[str]) -> DataFrame:
    """Per-column sample variance over per-key sums
    (``ArrayOfDoublesSketchToVariances.java:38``)."""
    sk = aod_sketch(df, key_col, value_cols)
    return sk.agg(*[F.var_samp(f"sum_{v}").alias(f"var_{v}") for v in value_cols])


def aod_p_values(
    df_a: DataFrame, df_b: DataFrame, key_col: str, value_cols: list[str]
) -> list[float]:
    """Welch t-test p-value per metric between two keyed populations
    (``ArrayOfDoublesSketchesToPValueEstimates.java:41-80``; needs ≥ 2
    retained keys per side, ``:63-66``)."""
    stats = []
    for side in (df_a, df_b):
        sk = aod_sketch(side, key_col, value_cols)
        row = sk.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.avg(f"sum_{v}").alias(f"m_{v}") for v in value_cols],
            *[F.var_samp(f"sum_{v}").alias(f"v_{v}") for v in value_cols],
        ).collect()[0]
        stats.append(row)
    a, b = stats
    return [
        welch_t_test(
            a[f"m_{v}"], a[f"v_{v}"], a["n"], b[f"m_{v}"], b[f"v_{v}"], b["n"]
        )
        for v in value_cols
    ]


def aod_p_values_df(
    df_a: DataFrame, df_b: DataFrame, key_col: str, value_cols: list[str]
) -> DataFrame:
    """DataFrame-native Welch t-test: per-side keyed aggregates (1 row each)
    → cross join → Arrow kernel computes the p-value per metric.  Nothing is
    collected on the driver; the expensive part (the keyed groupBy) is the
    same two-phase partial/final aggregation as ``aod_sketch``."""
    import pandas as pd

    from datasketches_pig_spark.functions.stats import welch_t_test

    def side(df: DataFrame, tag: str) -> DataFrame:
        sk = aod_sketch(df, key_col, value_cols)
        return sk.agg(
            F.count(F.lit(1)).alias(f"{tag}_n"),
            *[F.avg(f"sum_{v}").alias(f"{tag}_m_{v}") for v in value_cols],
            *[F.var_samp(f"sum_{v}").alias(f"{tag}_v_{v}") for v in value_cols],
        )

    joined = side(df_a, "a").crossJoin(side(df_b, "b"))

    schema = ", ".join(f"p_{v} double" for v in value_cols)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            row = pdf.iloc[0]
            yield pd.DataFrame(
                {
                    f"p_{v}": [
                        welch_t_test(
                            row[f"a_m_{v}"], row[f"a_v_{v}"], row["a_n"],
                            row[f"b_m_{v}"], row[f"b_v_{v}"], row["b_n"],
                        )
                    ]
                    for v in value_cols
                }
            )

    return joined.mapInPandas(kernel, schema=schema)


_DS_MODES = {"sum": F.sum, "min": F.min, "max": F.max}


def double_summary_sketch(
    df: DataFrame, key_col: str, value_col: str, mode: str = "sum"
) -> DataFrame:
    """DataToDoubleSummarySketch analog —
    ``tuple/DataToDoubleSummarySketch.java:33`` (sum is the Pig default).
    ``mode`` selects the datasketches DoubleSummary.Mode: per distinct key,
    the Sum / Min / Max of its values (AlwaysOne is the theta sketch —
    ``theta_sketch_agg`` — not duplicated here).  Output column is named
    ``{mode}_{value_col}``."""
    try:
        agg = _DS_MODES[mode.lower()]
    except KeyError:
        raise ValueError(
            f"double_summary_sketch: mode must be one of {sorted(_DS_MODES)}, "
            f"got {mode!r} (DoubleSummary.Mode analog)"
        ) from None
    return df.groupBy(F.col(key_col).alias("key")).agg(
        agg(value_col).cast("double").alias(f"{mode.lower()}_{value_col}")
    )


def double_summary_percentile(
    df: DataFrame, key_col: str, value_col: str, pct: float
) -> DataFrame:
    """Percentile (0-100) of per-key summary values, routed through the
    quantile layer like the reference routes through a DoublesSketch
    (``DoubleSummarySketchToPercentile.java:52-70``)."""
    sk = double_summary_sketch(df, key_col, value_col)
    return sk.agg(F.expr(f"percentile(sum_{value_col}, {pct / 100.0})").alias("pctile"))
