"""SparkSession factory tuned for the sandbox (local[N]) while keeping the
settings that matter on a real multi-executor cluster: AQE with skew-join
splitting (hot LSH buckets), Arrow everywhere, shuffle partitions sized to
parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc malloc tunables for every Python worker (and the driver): numpy's
# alloc/free cycles of >128 KB arrays otherwise become mmap/munmap pairs, and
# at 32 concurrent workers the munmap TLB shootdowns serialize the whole box
# in kernel time (measured: 88% sys, 40x slowdown on the decode kernel).
# Keeping the heap (never trimming, never mmap-ing) makes the signature
# kernels scale linearly with cores.  Workers inherit the executor JVM's env,
# which in local mode inherits the driver's — so set them process-wide before
# the JVM starts; spark.executorEnv.* covers real multi-executor clusters.
_WORKER_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_MMAP_MAX_": "0",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}

# Byte cap on each Arrow batch sent to a Python worker (Spark's default is
# 64 MiB).  The clip signature pass reads ~66 MB of payload per task: in
# one or two batches the JVM cannot stream while Python computes, and under
# the never-trim malloc above each worker's heap keeps the high-water mark
# of the largest batch it ever held.  Batches under the cap are unchanged;
# batch boundaries never change results.
ARROW_MAX_BYTES_PER_BATCH = 16 << 20


def get_spark(
    app_name: str = "datasketches-pig-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2× cores: enough granularity for AQE coalescing without tiny-task overhead
        shuffle_partitions = max(2 * cores, 8)

    for k, v in _WORKER_ENV.items():
        os.environ.setdefault(k, v)

    # Pin and pre-touch the heap and use the throughput collector: G1's
    # dynamic region commit/uncommit under allocation-heavy columnar scans
    # showed up as 50% host *kernel* time (mmap/munmap TLB shootdowns) and a
    # 10x slowdown feeding 32 Arrow workers; -Xms=-Xmx + AlwaysPreTouch +
    # ParallelGC took a 19k-clip signature pass from 21.8s to 1.9s.
    mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    jvm_opts = f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC"

    # shuffle spill dir: tmpfs when present — in this sandbox every "executor"
    # shares ONE virtio disk, an artificial serialization a real cluster does
    # not have (per-node NVMe); shuffle files are transient so tmpfs is safe
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.executor.extraJavaOptions", jvm_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: the engine is hash-arithmetic-heavy (murmur3 finalizers,
        # rotl/fmix as long multiply-with-wraparound) and Spark 4's ANSI
        # default turns every wrapping multiply into an ARITHMETIC_OVERFLOW
        # error — 2^64 wrap semantics are the *correct* semantics for hash
        # algebra.  Also removes the per-operation overflow-check branches
        # from all whole-stage-generated code.  Every oracle-gated query is
        # value-hash-checked under this setting (tools/check_oracle.py).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        # coalescePartitions is OFF: AQE coalesces by shuffle BYTES, but the
        # engine's hot shuffles carry CPU-dense rows (candidate pairs ~60 B/row
        # feeding per-pair verify scoring), so byte-proportional coalescing folds
        # a 16-partition stage into 2-4 tasks and idles the other cores —
        # measured 19.4s -> 12.8s at 8 cores and 20.7s -> 15.3s at 32 cores on
        # the 23k-clip pipeline (verify stage 9.3s -> 3.7s).  Partition counts
        # are managed explicitly (shuffle_partitions ~ 2x cores, salted
        # expansion); skew-join splitting stays on — it is independent of
        # coalescing and is the AQE feature the pipeline actually wants.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES_PER_BATCH)
        )
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in _WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, tasks: int | None = None) -> None:
    """Spin up one Python worker per core and pre-import the kernel modules.

    Worker processes are reused across stages (spark.python.worker.reuse), so
    a long-running job pays import + allocator warmup once; benches call this
    so measurements reflect the steady state rather than 32 parallel
    interpreter startups.
    """
    if tasks is None:
        tasks = spark.sparkContext.defaultParallelism

    def warm(batches):
        import numpy as np
        import pandas as pd

        from datasketches_pig_spark.audioops.codecs import wav_encode_pcm16
        from datasketches_pig_spark.config import DedupConfig
        from datasketches_pig_spark.operators.stages import signature_batch

        # run the signature pass's own batch kernel on synthetic clips so the
        # worker's heap grows to its steady-state size here, not in the first
        # timed batch — fresh page faults across 32 concurrent workers
        # otherwise dominate in kernel time (TLB shootdowns), not user compute
        pcm = (np.random.RandomState(0).rand(16000).astype(np.float32) - 0.5) * 0.6
        texts = [" ".join(f"w{i}{j}" for j in range(120)) for i in range(64)]
        clips = pd.DataFrame(
            {
                "clip_id": [str(i) for i in range(64)],
                "bytes": [wav_encode_pcm16(pcm, 16000)] * 64,
                "codec": "pcm_s16le",
                "sr_hz": 16000,
                "dur_ms": 1000,
                "transcript": texts,
            }
        )
        for _ in range(2):
            signature_batch(clips, DedupConfig(), None)
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    spark.range(tasks, numPartitions=tasks).mapInPandas(warm, "n long").count()
