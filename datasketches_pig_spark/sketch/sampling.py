"""Sampling operators — the ``pig/sampling`` package analog.

* ``reservoir_sample`` — uniform fixed-k per group, with the reference's
  shortcut: if a group has ≤ k rows, all rows are returned unchanged
  (``sampling/ReservoirSampling.java:82-86``).  Implemented relationally:
  row_number over a seeded-random order — one shuffle, no Python.
* ``varopt_sample`` — weighted VarOpt: all heavy items (w > τ) kept with
  their own weight, light items sampled with probability w/τ and assigned
  weight τ, where τ solves |heavy| + Σ_light w/τ = k.  Output columns
  ``vo_weight`` + the record, mirroring ``sampling/VarOptCommonImpl.java:45-46``.
  Per-group solve runs in ``applyInPandas`` (deterministic per-group seed);
  the n ≤ k shortcut returns originals.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

DEFAULT_TARGET_K = 1024  # sampling/VarOptCommonImpl.java:42
_N_SALTS = 32  # grouped two-level fan-out; level-2 state <= _N_SALTS * k rows


def reservoir_sample(
    df: DataFrame,
    k: int,
    group_cols: list[str] | None = None,
    seed: int = 9001,
) -> DataFrame:
    """Uniform fixed-k sample per group (k ≥ 2, as the reference enforces —
    ``ReservoirSampling.java:63-70``)."""
    if k < 2:
        raise ValueError("reservoir k must be >= 2")
    if not group_cols:
        # Ungrouped: orderBy+limit compiles to TakeOrderedAndProject —
        # per-partition bottom-k then one k-row merge.  Never a
        # single-partition global window (that was a one-task sort of the
        # whole table).  The <= k shortcut falls out: limit keeps all rows.
        return df.orderBy(F.rand(seed)).limit(k)
    # Grouped: keep the k smallest random keys per group, as a two-level
    # bottom-k (the salted split of sketch/theta.py:_two_level_bottom_k) so a
    # hot group (10^9 rows) is never a single-task sort: level 1 keeps
    # bottom-k per (group, salt) across _N_SALTS spillable window tasks,
    # level 2 merges <= _N_SALTS * k survivors per group by the SAME random
    # key — the result is exactly the per-group bottom-k of the key.  The
    # <= k shortcut falls out (every row survives both levels).
    keyed = df.withColumn("__r", F.rand(seed)).withColumn(
        "__salt", (F.rand(seed + 1) * _N_SALTS).cast("int")
    )
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy("__r")
    lvl1 = (
        keyed.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy("__r")
    return (
        lvl1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__r")
    )


def reservoir_state(
    df: DataFrame,
    k: int,
    group_cols: list[str] | None = None,
    seed: int = 9001,
) -> DataFrame:
    """Persistable reservoir partial — the ``sampling.DataToSketch`` analog
    (``ReservoirSampling.java:82``): one row per group with
    ``(n: population count, samples: array<struct<record>>)``.  The struct
    array is a plain parquet-writable column, so a daily job can persist its
    state and a later job can merge states across days with
    ``reservoir_union_states`` — the reference's Algebraic intermediate as a
    native Spark type instead of sketch bytes."""
    keys = group_cols or []
    rec_cols = [c for c in df.columns if c not in keys]
    sample = reservoir_sample(df, k, group_cols, seed)
    rec = F.struct(*rec_cols)
    if keys:
        samples = sample.groupBy(*keys).agg(F.collect_list(rec).alias("samples"))
        counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        return counts.join(samples, keys).withColumn("k", F.lit(k))
    samples = sample.agg(F.collect_list(rec).alias("samples"))
    counts = df.agg(F.count(F.lit(1)).alias("n"))
    return counts.crossJoin(samples).withColumn("k", F.lit(k))


def reservoir_union_states(
    states: DataFrame,
    k: int | None = None,
    group_cols: list[str] | None = None,
    n_col: str = "n",
    samples_col: str = "samples",
    seed: int = 9001,
    k_col: str = "k",
) -> DataFrame:
    """Merge persisted reservoir states per group (``ReservoirUnion.java:48``
    over ``reservoir_state`` rows): weighted sampling without replacement
    (A-ExpJ keys) over all retained samples.  Exact mode (every state's
    n == |samples|) returns the union of the inputs — rows, not state.
    With an explicit ``k`` any ``(n, samples)`` partials merge, persisted
    or not: each sample stands in for ``n / |samples|`` population rows.

    ``k=None`` (mixed-k merge) reconciles states persisted with different
    ks the way the reference does: the merged reservoir uses the MINIMUM
    valid k across the input states (``ReservoirUnion.java:48,73`` — a
    smaller-k reservoir cannot be "grown back", so the union degrades to the
    smallest), read from each state row's ``k_col`` per merge scope (per
    group when grouped).  Pass an explicit ``k`` to override."""
    if k is not None and k < 2:
        raise ValueError("reservoir k must be >= 2")
    keys = group_cols or []
    if k is None and k_col not in states.columns:
        raise ValueError(
            f"mixed-k merge (k=None) needs a {k_col!r} column in the state "
            "(written by reservoir_state); pass k= explicitly for legacy states"
        )
    kcap = F.lit(k) if k is not None else F.col("__kmin")
    exploded = states.select(
        *keys,
        F.col(n_col).alias("__n"),
        F.size(samples_col).alias("__sz"),
        F.explode(samples_col).alias("__s"),
    )
    keyed = exploded.withColumn(
        "__key", F.pow(F.rand(seed), F.col("__sz").cast("double") / F.col("__n"))
    )
    if not keys:
        if k is None:
            # one-row broadcast of the global minimum valid k
            kmin = states.agg(F.min(k_col).alias("__kmin"))
            keyed = keyed.crossJoin(F.broadcast(kmin))
            w = Window.partitionBy(F.lit(1)).orderBy(F.desc("__key"))
            return (
                keyed.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= kcap)
                .select("__s.*")
            )
        return keyed.orderBy(F.desc("__key")).limit(k).select("__s.*")
    if k is None:
        kmin = states.groupBy(*keys).agg(F.min(k_col).alias("__kmin"))
        keyed = keyed.join(F.broadcast(kmin), keys)
    w = Window.partitionBy(*keys).orderBy(F.desc("__key"))
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kcap)
        .select(*keys, "__s.*")
    )


def varopt_state(
    df: DataFrame,
    k: int = DEFAULT_TARGET_K,
    weight_col: str = "weight",
    group_cols: list[str] | None = None,
    seed: int = 9001,
) -> DataFrame:
    """Persistable VarOpt partial — the ``sampling.DataToVarOptSketch``
    analog (``DataToVarOptSketch.java:45``): one row per group with
    ``state: array<struct<record, vo_weight>>`` (≤ k entries).  Parquet-
    writable; merge later states with ``varopt_union_states``."""
    keys = group_cols or []
    sample = varopt_sample(df, k, weight_col, group_cols, seed)
    rec_cols = [c for c in sample.columns if c not in keys]
    rec = F.struct(*rec_cols)
    if keys:
        st = sample.groupBy(*keys).agg(F.collect_list(rec).alias("state"))
    else:
        st = sample.agg(F.collect_list(rec).alias("state"))
    return st.withColumn("k", F.lit(k))


def varopt_union_states(
    states: DataFrame,
    k: int | None = None,
    group_cols: list[str] | None = None,
    state_col: str = "state",
    seed: int = 9001,
    k_col: str = "k",
) -> DataFrame:
    """Merge persisted VarOpt states per group (``VarOptUnion.java:46``):
    explode back to weighted rows and VarOpt over the union keyed on the
    adjusted weights (unbiasedness argument as in ``varopt_union``).

    ``k=None`` (mixed-k merge) reconciles states persisted with different
    ks the way the reference does: the merged sketch uses the LARGEST valid
    k among the input sketches (``VarOptUnion.java:40-42`` — VarOpt partials
    stay valid under a larger target, so the union keeps the most state it
    can), read from each state row's ``k_col`` per merge scope (per group
    when grouped).  Pass an explicit ``k`` to override."""
    keys = group_cols or []
    if k is None:
        if k_col not in states.columns:
            raise ValueError(
                f"mixed-k merge (k=None) needs a {k_col!r} column in the state "
                "(written by varopt_state); pass k= explicitly for legacy states"
            )
        if keys:
            kmax = states.groupBy(*keys).agg(F.max(k_col).alias("__kcap"))
        else:
            kmax = states.agg(F.max(k_col).alias("__kcap"))
        exploded = get_varopt_samples(states, keys, state_col)
        if keys:
            exploded = exploded.join(F.broadcast(kmax), keys)
        else:
            exploded = exploded.crossJoin(F.broadcast(kmax))
        return _varopt_bounded_group_sample(
            exploded, "__kcap", "vo_weight", keys, seed
        )
    exploded = get_varopt_samples(states, group_cols, state_col)
    return varopt_sample(
        exploded, k=k, weight_col="vo_weight", group_cols=group_cols, seed=seed
    )


def get_varopt_samples(
    states: DataFrame,
    group_cols: list[str] | None = None,
    state_col: str = "state",
) -> DataFrame:
    """Unpack a persisted VarOpt state back to weighted rows — the
    ``sampling.GetVarOptSamples`` analog (``GetVarOptSamples.java:46``):
    (vo_weight, record...) per retained entry, flattened relationally."""
    keys = group_cols or []
    return states.select(*keys, F.explode(state_col).alias("__r")).select(
        *keys, "__r.*"
    )


def varopt_union(
    partials: DataFrame,
    k: int = DEFAULT_TARGET_K,
    weight_col: str = "vo_weight",
    seed: int = 9001,
) -> DataFrame:
    """Merge partial VarOpt samples — the ``sampling.VarOptUnion`` analog
    (``pig/sampling/VarOptUnion.java:46``).  A VarOpt sample is itself a
    weighted population whose adjusted weights (``vo_weight``) are unbiased
    for the originals, so the merge is VarOpt over the union of the partial
    samples keyed on those adjusted weights.  The n ≤ k shortcut makes the
    exact mode exact: merging exact-mode partials returns every row with its
    original weight."""
    return varopt_sample(partials, k=k, weight_col=weight_col, seed=seed)


def _varopt_group(pdf: pd.DataFrame, k: int, weight_col: str, seed: int) -> pd.DataFrame:
    n = len(pdf)
    if n <= k:
        out = pdf.copy()
        out["vo_weight"] = out[weight_col].astype(float)
        return out
    w = pdf[weight_col].to_numpy(dtype=np.float64)
    order = np.argsort(-w, kind="stable")
    ws = w[order]
    # find τ: keep heavy prefix of size h where ws[h-1] > τ,
    # τ = (Σ light weights) / (k - h); scan h from 0 upward
    suffix = np.concatenate([np.cumsum(ws[::-1])[::-1], [0.0]])
    tau = None
    h = 0
    for h in range(k):
        t = suffix[h] / (k - h)
        if ws[h] <= t if h < n else True:
            tau = t
            break
    if tau is None:
        h = k
        tau = suffix[k - 1] if k - 1 < n else 0.0
    heavy_idx = order[:h]
    light_idx = order[h:]
    m = k - h  # expected (and exact) number of light picks
    lw = w[light_idx]
    # systematic sampling: exactly m picks with inclusion prob w/τ
    rng = np.random.default_rng(seed)
    cum = np.cumsum(lw / tau)
    targets = rng.uniform(0, 1) + np.arange(m)
    picks = np.searchsorted(cum, targets, side="left")
    picks = np.clip(picks, 0, len(light_idx) - 1)
    picks = np.unique(picks)  # τ-solve makes collisions measure-zero
    chosen = light_idx[picks]
    out = pd.concat([pdf.iloc[heavy_idx], pdf.iloc[chosen]])
    vo = np.concatenate([w[heavy_idx], np.full(len(chosen), tau)])
    out = out.copy()
    out["vo_weight"] = vo
    return out


def _varopt_bounded_group_sample(
    df: DataFrame,
    kcap_col: str,
    weight_col: str,
    keys: list[str],
    seed: int,
) -> DataFrame:
    """Whole-group VarOpt for inputs that are ALREADY bounded per group
    (state merges: ≤ n_states × k rows per group), with the target k read
    per group from ``kcap_col``.  Not for raw tables — ``varopt_sample``'s
    partial→final split is the unbounded-input path."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name not in ("vo_weight", kcap_col)
    ) + ", vo_weight double"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        kk = int(pdf[kcap_col].iloc[0])
        return _varopt_group(pdf.drop(columns=[kcap_col]), kk, weight_col, seed)

    if keys:
        return df.groupBy(*keys).applyInPandas(run, schema=out_schema)
    return (
        df.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(
            lambda pdf: run(pdf.drop(columns=["__g"])), schema=out_schema
        )
    )


def varopt_sample(
    df: DataFrame,
    k: int = DEFAULT_TARGET_K,
    weight_col: str = "weight",
    group_cols: list[str] | None = None,
    seed: int = 9001,
) -> DataFrame:
    """Weighted VarOpt sample per group → original columns + vo_weight.

    Both paths are the reference's Algebraic split
    (``sampling/DataToVarOptSketch.java:45`` initial / ``VarOptUnion.java:46``
    final, streaming-Accumulator contract ``VarOptSampling.java:93-109``):
    a partial VarOpt runs narrow in ``mapInPandas`` — per partition when
    ungrouped, per (partition, group) when grouped — with state bounded at k
    rows per group per task, then one bounded merge per group over at most
    n_partitions * k partial rows.  A hot group (10^9 weighted rows) never
    materializes in one Python worker: each task retains ≤ k of its rows and
    only the ≤ n_partitions * k survivors shuffle.  VarOpt-of-VarOpt is
    unbiased because adjusted weights are unbiased for the originals.

    High-cardinality group columns: per-task state is k × (distinct groups
    in the task), so the grouped partial also FLUSHES its pools whenever
    total retained rows pass a bound (emitting finished partials early and
    restarting) — memory stays bounded for any group cardinality at the
    cost of extra shuffled partial rows; the per-group final is unchanged.
    """
    keys = group_cols or []
    schema_fields = [f for f in df.schema.fields if f.name != "vo_weight"]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema_fields
    ) + ", vo_weight double"

    if keys:
        # Cardinality caveat: the partial keeps ≤ k rows PER DISTINCT GROUP
        # seen by the task, so a high-cardinality group column could retain
        # ~the whole partition in pandas memory.  The flush bound below caps
        # that: when total retained rows exceed it, the pools are emitted as
        # finished partials and the dict restarts — the per-group final merge
        # already accepts any number of partial rows per group
        # (VarOpt-of-VarOpt is unbiased), so flushing only adds shuffle rows,
        # never changes semantics.
        flush_rows = max(100_000, 4 * k)

        def partial_grouped(batches):
            pools: dict = {}
            n_rows = 0
            for pdf in batches:
                pdf = pdf.copy()
                pdf["vo_weight"] = pdf[weight_col].astype(float)
                for gkey, g in pdf.groupby(keys, sort=False, dropna=False):
                    prev = pools.get(gkey)
                    pool = (
                        g
                        if prev is None
                        else pd.concat([prev, g], ignore_index=True)
                    )
                    solved = _varopt_group(pool, k, "vo_weight", seed)
                    n_rows += len(solved) - (0 if prev is None else len(prev))
                    pools[gkey] = solved
                if n_rows > flush_rows:
                    yield pd.concat(pools.values(), ignore_index=True)
                    pools, n_rows = {}, 0
            if pools:
                yield pd.concat(pools.values(), ignore_index=True)

        partials = df.mapInPandas(partial_grouped, schema=out_schema)

        def final_grouped(pdf: pd.DataFrame) -> pd.DataFrame:
            return _varopt_group(pdf, k, "vo_weight", seed)

        return partials.groupBy(*keys).applyInPandas(
            final_grouped, schema=out_schema
        )

    def partial(batches):
        cur = None
        for pdf in batches:
            pdf = pdf.copy()
            pdf["vo_weight"] = pdf[weight_col].astype(float)
            pool = pdf if cur is None else pd.concat([cur, pdf], ignore_index=True)
            cur = _varopt_group(pool, k, "vo_weight", seed)
        if cur is not None and len(cur):
            yield cur

    partials = df.mapInPandas(partial, schema=out_schema)

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        return _varopt_group(pdf.drop(columns=["__g"]), k, "vo_weight", seed)

    return (
        partials.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(final, schema=out_schema)
    )
