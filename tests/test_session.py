"""Session helpers work on any caller's session, not only ``get_spark``'s."""

from types import SimpleNamespace

import pandas as pd
import pyspark.sql.functions as F

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.data.clips import generate_clips_spark
from datasketches_pig_spark.operators.stages import signature_stage
from datasketches_pig_spark.session import ARROW_MAX_BYTES_PER_BATCH, warm_python_workers


def test_warm_python_workers_sizes_from_default_parallelism(spark):
    """A caller's ``local[*]`` (or ``local[N,F]``) master string is not an
    integer core count: the warm-up takes its task count from the context's
    ``defaultParallelism`` instead of parsing the master."""
    widths = []

    def range_(n, numPartitions):
        widths.append(numPartitions)
        return spark.range(n, numPartitions=numPartitions)

    for master in ("local[*]", "local[2,3]"):
        caller = SimpleNamespace(
            sparkContext=SimpleNamespace(master=master, defaultParallelism=2),
            range=range_,
        )
        warm_python_workers(caller)
    assert widths == [2, 2]


ARROW_BYTES_KEY = "spark.sql.execution.arrow.maxBytesPerBatch"


def test_get_spark_caps_arrow_batch_bytes(spark):
    """A ``get_spark`` session and every ``newSession()`` of it carry the
    byte cap on Arrow batches."""
    want = str(ARROW_MAX_BYTES_PER_BATCH)
    assert spark.conf.get(ARROW_BYTES_KEY) == want
    assert spark.newSession().conf.get(ARROW_BYTES_KEY) == want


def test_signature_stage_invariant_to_arrow_batch_boundaries(spark, tmp_run_dir):
    """Splitting each task's input into many small Arrow batches changes
    nothing in the signatures: every row hashes the same over all columns."""
    small = spark.newSession()
    small.conf.set(ARROW_BYTES_KEY, str(64 * 1024))
    path = f"{tmp_run_dir}/in/clips.parquet"
    generate_clips_spark(spark, n_groups=40, seed=21, out_dir=f"{tmp_run_dir}/in")

    def count_batches(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    clips = small.read.parquet(path)
    n_tasks = clips.rdd.getNumPartitions()
    n_batches = clips.mapInPandas(count_batches, "n long").count()
    assert n_batches >= 4 * n_tasks  # the cap really splits each task's input

    def row_hashes(session):
        sigs = signature_stage(session.read.parquet(path), DedupConfig())
        rows = sigs.select("clip_id", F.xxhash64(*sigs.columns).alias("h")).collect()
        return sorted((r.clip_id, r.h) for r in rows)

    want = row_hashes(spark)
    assert len(want) > 50
    assert row_hashes(small) == want
