"""Stateful streaming replay (streaming/ops.py:streaming_replay_stats +
streaming/replay.py:replay_events) — the oracle-gated §2.10 stateful row.

What must hold:
* the final per-key emission equals the batch GROUP BY over the whole log
  (count / sum / exact distinct below k) — this is what the registry gate
  hash-checks against DuckDB;
* the replay really is multi-micro-batch and the state really is cumulative
  (a key emits several times with strictly increasing n_events — a state
  loss would reset the count and break monotonicity / the final total);
* the recovery rule (struct-max on n_events) is order-independent, so two
  replays of the same log are identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from datasketches_pig_spark.streaming.replay import replay_events


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.default_rng(9001)
    n = 900
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Timestamp("2025-01-01")
            + pd.to_timedelta(rng.integers(0, 86400, n), unit="s"),
            "user_id": rng.integers(0, 70, n).astype(np.int64),
            "event_type": np.array(["click", "view", "purchase"])[
                rng.integers(0, 3, n)
            ],
            "value": np.round(rng.uniform(0, 100, n), 3),
        }
    )
    return spark.createDataFrame(pdf)


def test_replay_matches_batch_groupby(spark, events):
    got = replay_events(spark, events, n_slices=6).toPandas()
    exp = (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.countDistinct("user_id").alias("distinct_users"),
        )
        .toPandas()
    )
    got = got.sort_values("event_type").reset_index(drop=True)
    exp = exp.sort_values("event_type").reset_index(drop=True)
    assert list(got.event_type) == list(exp.event_type)
    assert list(got.n_events) == list(exp.n_events)
    assert list(got.distinct_users) == list(exp.distinct_users)
    np.testing.assert_allclose(got.sum_value, exp.sum_value, rtol=1e-12)


def test_replay_is_multibatch_and_cumulative(spark, events):
    """Drive the stream manually to inspect EVERY emission: each key must
    emit in several micro-batches, with strictly increasing cumulative
    counts whose last value is the global total — the signature of state
    surviving batch boundaries (per-batch-local state would emit small
    resetting counts)."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from datasketches_pig_spark.streaming.ops import streaming_replay_stats

    base = tempfile.mkdtemp(prefix="dsps_replay_test_")
    stream_dir = os.path.join(base, "stream")
    os.makedirs(stream_dir)
    n_slices = 5
    for i in range(n_slices):
        sd = os.path.join(base, f"s{i}")
        events.filter(F.pmod("event_id", F.lit(n_slices)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(sd)
        (part,) = glob.glob(os.path.join(sd, "part-*.parquet"))
        shutil.copy(part, os.path.join(stream_dir, f"{i:04d}.parquet"))
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("event_type", "user_id", "value")
    )
    qn = f"replay_probe_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_replay_stats(src)
        .writeStream.format("memory")
        .queryName(qn)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(qn).toPandas()
    totals = events.groupBy("event_type").count().toPandas()
    totals = dict(zip(totals.event_type, totals["count"]))
    for key, grp in emitted.groupby("event_type"):
        ns = sorted(grp.n_events)
        assert len(ns) >= 2, f"{key}: only one emission — not multi-batch"
        assert ns == sorted(set(ns)), f"{key}: cumulative counts not strict"
        assert ns[-1] == totals[key], (
            f"{key}: final cumulative {ns[-1]} != batch total {totals[key]} "
            "— state did not survive micro-batch boundaries"
        )


def test_replay_deterministic_across_runs(spark, events):
    a = replay_events(spark, events, n_slices=4).toPandas()
    b = replay_events(spark, events, n_slices=4).toPandas()
    a = a.sort_values("event_type").reset_index(drop=True)
    b = b.sort_values("event_type").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_replay_cleans_up_tempdirs_and_sink(spark, events):
    """ADVICE r6: every replay run used to leak its /dev/shm workdir
    (slices + stream + checkpoint — the same disk as spark.local.dir) and
    pin the memory-sink table in driver memory forever."""
    import glob

    root = "/dev/shm" if __import__("os").path.isdir("/dev/shm") else None
    before = set(glob.glob("/dev/shm/dsps_replay_*")) if root else set()
    views_before = {t.name for t in spark.catalog.listTables()}
    out = replay_events(spark, events, n_slices=4)
    assert out.count() == 3  # result survives cleanup (materialized)
    after = set(glob.glob("/dev/shm/dsps_replay_*")) if root else set()
    assert after - before == set()
    leaked = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("replay_")
    } - views_before
    assert leaked == set()


def test_replay_hashes_64bit_user_ids_exactly(spark):
    """Landmine 8: a nullable int64 column with a null in the Arrow batch
    reaches pandas as float64, where ids above 2^53 that differ only in
    their low bits collapse to one value.  Two such ids plus a null-user
    event must count as three events and two distinct users."""
    big = 1 << 60
    events = spark.createDataFrame(
        [
            (0, "click", big + 1, 1.0),
            (1, "click", big + 2, 2.0),
            (2, "click", None, 4.0),
        ],
        "event_id long, event_type string, user_id long, value double",
    )
    (row,) = replay_events(spark, events, n_slices=1).collect()
    assert row["n_events"] == 3
    assert row["sum_value"] == 7.0
    assert row["distinct_users"] == 2


def test_replay_leaves_the_caller_session_conf_alone(spark, monkeypatch):
    """The stream runs in its own session: the caller's shuffle width and
    no-data micro-batch setting are unchanged while the query runs and
    after it returns, and the replay still equals the batch GROUP BY hash
    for hash."""
    from conftest import SF_DIR
    from pyspark.sql.streaming.query import StreamingQuery

    from datasketches_pig_spark.queries import q_streaming_replay
    from tools.check_oracle import value_hash

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    during = []
    await_termination = StreamingQuery.awaitTermination

    def observing(self, *args, **kwargs):
        during.append({k: spark.conf.get(k) for k in keys})
        return await_termination(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", observing)
    got = q_streaming_replay(spark, SF_DIR)
    rows = [tuple(r) for r in got.collect()]
    monkeypatch.undo()
    assert during == [before]
    assert {k: spark.conf.get(k) for k in keys} == before

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("user_id").alias("distinct_users"),
    )
    assert value_hash(got.columns, rows) == value_hash(
        want.columns, [tuple(r) for r in want.collect()]
    )
