"""Approximate-nearest-neighbor search over an embedding column.

* ``cosine_topk`` — exact brute-force baseline: broadcast the (small) query
  set, dot product via JVM higher-order functions (``aggregate``/``zip_with``
  — whole-stage codegen, no Python), window top-k per query.
* ``rhp_lsh_topk`` — the scale path: random-hyperplane (SimHash-for-cosine)
  signatures bucket the corpus; candidates = rows whose signature is within
  ``max_hamming`` of the query's (chunk-banded join, no full scan), exact
  cosine re-rank on candidates only.  Recall is tunable via n_bits /
  max_hamming and is asserted against the brute-force baseline in tests.

At 100 TB the corpus side stays partitioned; only signatures + band keys
shuffle.  Queries are assumed broadcastable (typical ANN-serving shape).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine per query: (query_id, vec_id, cosine, rank)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnorm"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("cvec"), F.col("qvec"))
            / (F.col("cnorm") * F.col("qnorm") + F.lit(1e-30))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def make_hyperplanes(dim: int, n_bits: int = 16, seed: int = 9001) -> np.ndarray:
    return np.random.default_rng([seed, dim, n_bits]).normal(size=(n_bits, dim))


def rhp_signature_df(
    df: DataFrame, id_col: str, vec_col: str, planes: np.ndarray
) -> DataFrame:
    """Random-hyperplane signature as an int64 column — one vectorized Arrow
    pass (sign bits of x @ planes.T, packed).  A literal-expression build
    would be O(n_bits × dim) Catalyst nodes — a codegen hazard at dim ≥ 256
    — so the planes ride the closure instead and the kernel is a single
    matrix multiply per batch."""
    import pandas as pd

    pt = planes.T.astype(np.float64)
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bits = (x @ pt) >= 0
            sig = (bits.astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"].values, "rhp_sig": sig})

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(run, schema="id long, rhp_sig long")


def _rhp_lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    planes: np.ndarray,
    n_bits: int,
    max_hamming: int,
    n_chunks: int,
) -> DataFrame:
    """(query_id, vec_id) candidate pairs: share ≥ 1 exact signature chunk
    with the query AND full-signature Hamming ≤ max_hamming.  Split out so
    tests can assert the candidate fraction directly."""
    bits_per = n_bits // n_chunks
    mask = (1 << bits_per) - 1

    csig = rhp_signature_df(corpus, id_col, vec_col, planes)
    qsig = rhp_signature_df(queries, query_id_col, vec_col, planes)

    def chunked(sig_df, idname):
        return sig_df.select(
            F.col("id").alias(idname),
            F.col("rhp_sig").alias(f"{idname}_sig"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("chunk"),
                            F.shiftright("rhp_sig", bits_per * i)
                            .bitwiseAND(F.lit(mask))
                            .alias("val"),
                        )
                        for i in range(n_chunks)
                    ]
                )
            ).alias("c"),
        ).select(idname, f"{idname}_sig", "c.chunk", "c.val")

    cc = chunked(csig, "vec_id")
    qc = chunked(qsig, "query_id")
    return (
        cc.join(F.broadcast(qc), ["chunk", "val"])
        .filter(
            F.bit_count(F.col("vec_id_sig").bitwiseXOR(F.col("query_id_sig")))
            <= max_hamming
        )
        .select("query_id", "vec_id")
        .distinct()
    )


def rhp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_bits: int = 64,
    max_hamming: int = 16,
    n_chunks: int = 4,
    seed: int = 9001,
    dim: int | None = None,
) -> DataFrame:
    """LSH-prefiltered ANN top-k: 64-bit random-hyperplane signatures,
    exact-chunk banding, exact cosine re-rank on candidates only.

    Plan shape, stated honestly: the chunk join streams the **signature
    table** (two longs per row) against the broadcast query chunk keys —
    a linear scan of signatures, never of the embedding vectors; the
    exact-cosine re-rank then reads candidate vectors only.  At the 64-bit
    default a chunk key is 16 bits, so per (query, chunk) an expected
    ~2^-16 of random-signature corpus rows match — ~``n_chunks``/65536
    (≈ 1/16k) of the corpus reaches the Hamming filter per query, vs ~23%
    at the pre-r4 16-bit/4-bit-chunk default.  For repeated query batches
    the signature side is worth materializing like ``ivf_build``'s lists.

    Completeness contract (pigeonhole over ``n_chunks`` chunks): a corpus
    row within Hamming ≤ ``n_chunks``-1 of the query's signature ALWAYS
    shares an intact chunk — recall 1 in the near-duplicate regime
    (Hamming ≤ 3 at 64 bits ≈ cosine ≥ ~0.99).  Between there and
    ``max_hamming`` candidates are probabilistic (P[some 16-bit chunk
    intact]); for moderate-similarity corpora (top-k neighbors at cosine
    ~0.4, expected Hamming ~20+) the chunk prefilter rightly prunes
    almost everything — use ``ivf_topk``, which partitions by coarse
    centroid instead of signature agreement, for that regime.

    Pass ``dim`` explicitly to avoid a schema-probe job; when omitted it is
    read from one row (acceptable interactively, not in a pipeline)."""
    if n_bits % n_chunks:
        raise ValueError("rhp_lsh_topk: n_bits must be divisible by n_chunks")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = make_hyperplanes(dim, n_bits, seed)
    cand = _rhp_lsh_candidates(
        corpus, queries, id_col, vec_col, query_id_col, planes,
        n_bits, max_hamming, n_chunks,
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnorm"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    )
    scored = (
        cand.join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                _dot(F.col("cvec"), F.col("qvec"))
                / (F.col("cnorm") * F.col("qnorm") + F.lit(1e-30))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def embedding_near_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "rhp",
    max_hamming: int = 3,
    seed: int = 9001,
    dim: int | None = None,
    bucket_cap: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b, cosine) with a < b —
    the fifth dedup modality next to exact / n-gram / MinHash / SimHash.

    ``method='rhp'`` (the 100 TB path): 64-bit random-hyperplane signatures
    (one Arrow pass), Manku 3-of-(h+3)-block combo keys, the shared
    ``operators.lsh.lsh_candidates`` path (one band-key exchange with
    hot-bucket star-links), then an exact-cosine verify on candidates only
    (JVM ``aggregate``/``zip_with``, no Python; no Hamming filter).
    P[sig bit differs] = angle/π, so a near-dup pair (cosine ≥ ~0.995,
    angle ≤ ~6°) has expected signature Hamming ≈ 64·angle/π ≤ 1.2 and
    lands within ``max_hamming`` w.h.p.; recall is asserted on a planted corpus in tests.  Recall contract of
    ``lsh_candidates``: complete while no band bucket exceeds
    ``bucket_cap``, approximate above it.

    ``method='exact'``: the labeled O(n²) brute-force baseline (the oracle
    path), analogous to ``cosine_topk`` for ANN — never the scale path.
    """
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    ca = c.select(
        F.col("id").alias("a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    cb = c.select(
        F.col("id").alias("b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    if method == "exact":
        pairs = ca.join(cb, F.col("a") < F.col("b"))
    elif method == "rhp":
        from datasketches_pig_spark.operators.lsh import (
            lsh_candidates,
            simhash_combo_key_array,
        )

        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        planes = make_hyperplanes(dim, n_bits=64, seed=seed)
        sigs = rhp_signature_df(corpus, id_col, vec_col, planes).localCheckpoint()
        keys = simhash_combo_key_array(F.col("rhp_sig"), max_hamming)
        cand = lsh_candidates(sigs, keys, bucket_cap)
        pairs = cand.join(ca, "a").join(cb, "b")
    else:
        raise ValueError(f"embedding_near_pairs: unknown method {method!r}")
    return (
        pairs.withColumn(
            "cosine",
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb") + F.lit(1e-30)),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 8,
    sample: int = 20000,
    seed: int = 9001,
) -> np.ndarray:
    """Deterministic Lloyd k-means on a bounded sample — the IVF coarse
    quantizer.  At 100 TB you train on a sampled fraction (the standard IVF
    recipe); the sample cap bounds driver memory regardless of corpus size.

    The sample is chosen by ordering on a hash of the vector bytes
    (TakeOrderedAndProject — per-partition top-k then one k-row merge), so
    the same corpus always yields the same sample regardless of partition
    layout; a bare ``limit()`` would depend on scan order."""
    pdf = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("v")))
        .limit(sample)
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError("train_centroids: corpus is empty")
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
    x = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-30)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / (np.linalg.norm(m) + 1e-30)
    return cents


def _assign_centroids(
    df: DataFrame, id_out: str, vec_col: str, cents: np.ndarray, n_probe: int
) -> DataFrame:
    """(id, vec) → n_probe rows (id, centroid_id), vectorized Arrow kernel."""
    import pandas as pd

    n_probe = min(n_probe, len(cents))

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            x = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-30)
            sims = x @ cents.T
            top = np.argsort(-sims, axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    id_out: np.repeat(pdf["id"].values, n_probe),
                    "centroid_id": top.reshape(-1).astype(np.int32),
                }
            )

    src = df.select(F.col(df.columns[0]).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(run, schema=f"{id_out} long, centroid_id int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 9001,
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer → corpus rows live in one inverted
    list each, queries probe their ``n_probe`` nearest lists → exact cosine
    re-rank inside the probed lists only.  The scan prunes to
    ~n_probe/n_centroids of the corpus; at scale the corpus side is
    pre-partitioned (bucketed) by centroid_id so a probe is a partition-
    pruned read, not a shuffle."""
    cents = train_centroids(corpus, vec_col, n_centroids, seed=seed)

    c_assign = _assign_centroids(
        corpus.select(id_col, vec_col), "vec_id", vec_col, cents, n_probe=1
    )
    q_assign = _assign_centroids(
        queries.select(query_id_col, vec_col), "query_id", vec_col, cents, n_probe=n_probe
    )

    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnorm"),
    ).join(c_assign, "vec_id")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    ).join(q_assign, "query_id")

    scored = c.join(F.broadcast(q), "centroid_id").select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("cvec"), F.col("qvec"))
            / (F.col("cnorm") * F.col("qnorm") + F.lit(1e-30))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    # no pair dedup needed: the corpus side is assigned with n_probe=1 (one
    # centroid row per vector) and a query's probed centroids are distinct
    # (argsort indices), so each (query_id, vec_id) joins at most once — the
    # r7 groupBy-max here was an identity that cost a full exchange + agg
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_build(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 9001,
) -> np.ndarray:
    """Materialize the IVF index: corpus rows written **partitioned by
    centroid_id** (hive-style directories), centroids saved alongside.  A
    probe then reads only its n_probe partitions — partition pruning at the
    file-listing level, no scan of the other lists.  Returns the centroids."""
    cents = train_centroids(corpus, vec_col, n_centroids, seed=seed)
    assign = _assign_centroids(
        corpus.select(id_col, vec_col), "vec_id", vec_col, cents, n_probe=1
    )
    (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
        .join(assign, "vec_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{index_dir}/lists")
    )
    np.save(f"{index_dir}/centroids.npy", cents)
    return cents


def ivf_probe(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Probe a materialized IVF index.  The centroid_id IN (...) filter is a
    partition-pruning predicate on the hive-partitioned lists directory —
    the physical plan's PartitionFilters prunes unprobed lists from the scan
    (at 1000 executors: only n_probe/n_centroids of the index is read)."""
    cents = np.load(f"{index_dir}/centroids.npy")
    q_assign = _assign_centroids(
        queries.select(query_id_col, vec_col), "query_id", vec_col, cents,
        n_probe=n_probe,
    )
    probed = [
        int(r["centroid_id"]) for r in q_assign.select("centroid_id").distinct().collect()
    ]
    lists = spark.read.parquet(f"{index_dir}/lists").filter(
        F.col("centroid_id").isin(probed)
    )
    c = lists.select(
        "vec_id",
        F.col("embedding").alias("cvec"),
        _norm(F.col("embedding")).alias("cnorm"),
        "centroid_id",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    ).join(q_assign, "query_id")
    scored = c.join(F.broadcast(q), "centroid_id").select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("cvec"), F.col("qvec"))
            / (F.col("cnorm") * F.col("qnorm") + F.lit(1e-30))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    # no pair dedup needed, as in ivf_topk: ivf_build writes each vector to
    # one list and a query's probed centroids are distinct
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
