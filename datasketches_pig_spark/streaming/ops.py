"""Structured Streaming operators.

The reference's closest streaming analog is the ``Accumulator`` interface —
a sketch updated incrementally with successive chunks of a bag
(``theta/DataToSketch.java:250-284``).  Here that contract maps onto:

* watermarked tumbling/session windows for time-based aggregation
  (``streaming_windowed_counts`` / ``streaming_sessions``), and
* ``applyInPandasWithState`` for the custom stateful sketch: a bottom-k KMV
  per key whose state is exactly the compact sketch the reference ships
  between Algebraic stages (``streaming_theta_distinct``).

All operators take/return streaming DataFrames; tests drive them with a file
source + availableNow trigger and compare against the batch results.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window counts + sums with late-data watermark."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_col).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n",
            "sum_value",
        )
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per key — the sessionization operator."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


_STATE_SCHEMA = "sketch array<long>"
_OUT_SCHEMA = "key string, estimate double, retained int"


def streaming_theta_distinct(keyed: DataFrame, k: int = 256, seed: int = 9001) -> DataFrame:
    """Custom stateful streaming sketch: per key, a bottom-k KMV over the
    murmur-hashed values seen so far (the Accumulator contract).  Emits the
    running (estimate, retained) after every micro-batch update.

    Input: streaming DataFrame with (key string, value string).
    """
    from datasketches_pig_spark.functions.murmur3 import murmur3_bytes_batch
    from datasketches_pig_spark.operators.signatures import (
        kmv_bottom_k,
        kmv_distinct_estimate,
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (prev,) = state.get
            sketch = np.array(prev, dtype=np.int64).view(np.uint64)
        else:
            sketch = np.empty(0, dtype=np.uint64)
        for pdf in pdfs:
            vals = [v.encode("utf-8") if v is not None else None for v in pdf["value"]]
            h1, _, valid = murmur3_bytes_batch(vals, seed)
            # KMV update semantics: union, keep k smallest distinct
            sketch = kmv_bottom_k(np.concatenate([sketch, h1[valid]]), k)
        state.update((sketch.view(np.int64).tolist(),))
        est = kmv_distinct_estimate(sketch, k)
        yield pd.DataFrame(
            {"key": [key[0]], "estimate": [est], "retained": [len(sketch)]}
        )

    return keyed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_DEDUP_OUT = "dedup_key string, doc_id string"
_DEDUP_STATE = "seen int"


def streaming_first_seen(keyed: DataFrame) -> DataFrame:
    """Ingest-time exact dedup: emit only the FIRST occurrence of each
    ``dedup_key`` across the whole stream (state = one flag per key).

    Input: streaming DataFrame with (dedup_key string, doc_id string) — the
    key is typically a content hash (``murmur3_h1`` of normalized text or the
    raw payload's exact key).  At 10^12 scale the per-key state is a single
    int, partitioned by key across executors; this is the streaming form of
    the pipeline's exact-byte fast path.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return  # key already emitted in an earlier micro-batch
        first = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = str(pdf["doc_id"].iloc[0])
        state.update((1,))
        if first is not None:
            yield pd.DataFrame({"dedup_key": [key[0]], "doc_id": [first]})

    return keyed.groupBy("dedup_key").applyInPandasWithState(
        update,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_REPLAY_STATE = "n long, s double, sketch array<long>"
_REPLAY_OUT = (
    "event_type string, n_events long, sum_value double, distinct_users long"
)


def streaming_replay_stats(
    events: DataFrame, k: int = 1024, seed: int = 9001
) -> DataFrame:
    """Genuinely stateful streaming replay: per ``event_type``, CUMULATIVE
    (event count, value sum, KMV distinct-user sketch) carried across
    micro-batches in ``applyInPandasWithState``; after every batch in which
    a key appears, the running totals are emitted.

    This is the oracle-gated stateful path (registry query
    ``streaming_replay``): the final emission per key equals the plain
    batch ``GROUP BY`` over the whole log **only if state survives every
    micro-batch boundary** — a state loss replaces cumulative totals with
    per-batch ones and the hash check fails.  ``distinct_users`` is exact
    while the sketch retains < k hashes (the exact-below-k contract), the
    regime the sf0.01 gate runs in; past k it is the KMV estimate.

    Input: streaming DataFrame with (event_type string, user_id long,
    value double).
    """
    from datasketches_pig_spark.functions.murmur3 import murmur3_long_batch
    from datasketches_pig_spark.operators.signatures import (
        kmv_bottom_k,
        kmv_distinct_estimate,
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s, prev = state.get
            sketch = np.array(prev, dtype=np.int64).view(np.uint64)
        else:
            n, s, sketch = 0, 0.0, np.empty(0, dtype=np.uint64)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += int(len(pdf))
            s += float(pdf["value"].to_numpy(dtype=np.float64).sum())
            # murmur3 of the int64 user id (8-byte LE), fully vectorized —
            # the r7 form decimal-stringified every id in a Python loop
            # before hashing, a per-batch per-row cost; distinct_users is
            # identical below k either way (count of distinct hashes =
            # count of distinct users, the exact-below-k gate regime)
            # exact int64: nulls arrive flagged in user_null (see keyed below)
            users = pdf["user_id"].to_numpy(np.int64)[~pdf["user_null"].to_numpy(bool)]
            h1, _ = murmur3_long_batch(users, seed)
            sketch = kmv_bottom_k(np.concatenate([sketch, h1]), k)
        state.update((int(n), float(s), sketch.view(np.int64).tolist()))
        du = (
            len(sketch)
            if len(sketch) < k
            else int(round(kmv_distinct_estimate(sketch, k)))
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [int(n)],
                "sum_value": [float(s)],
                "distinct_users": [int(du)],
            }
        )

    # a nullable long column with a null in the Arrow batch reaches pandas as
    # float64, which collapses ids above 2^53 (landmine 8): hand the kernel a
    # null-free user_id plus an explicit null flag instead
    keyed = events.select(
        "event_type",
        F.coalesce("user_id", F.lit(0).cast("long")).alias("user_id"),
        F.col("user_id").isNull().alias("user_null"),
        "value",
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_REPLAY_OUT,
        stateStructType=_REPLAY_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Sliding-window counts: each event lands in window/slide overlapping
    windows (window must be a multiple of slide).  Same watermark/late-data
    semantics as the tumbling form."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), key_col, "n")
    )


def streaming_dedup_exact(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Built-in streaming exact dedup: first event per KEY within the
    watermark horizon is kept; later events with the same key are dropped
    until the key's state ages past the watermark.  State per key is bounded
    by the watermark (keys older than the horizon are evicted) — the
    scale-safe complement to the unbounded-history ``streaming_first_seen``.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+) so the dedup really
    is per key, not per (key, event-time) — duplicate keys with *different*
    timestamps inside the horizon are dropped too."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
