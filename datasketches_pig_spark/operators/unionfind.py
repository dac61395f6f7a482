"""Distributed union-find: connected components over verified dup pairs via
iterative min-label propagation + pointer jumping (DataFrame self-joins to a
fixpoint).

Each round every vertex takes the minimum label among itself and its
neighbors, then collapses one level of label indirection (label := label's
label — pointer jumping), so the minimum label's reach roughly doubles per
round and convergence needs O(log diameter) rounds rather than O(diameter):
a 10^6-vertex chain (the worst realistic shape — transitive near-dup runs)
converges in ~20 rounds instead of 10^6.  Without the jump step, a component
whose diameter exceeded the round cap silently kept intermediate labels —
found by the generated-path-graph test (r5).  A run that still has label
changes after ``max_unionfind_rounds`` raises instead of returning a wrong
clustering.  Each round is localCheckpoint()ed to cut the growing lineage
(the same reason the reference serializes compact sketches between stages
rather than re-deriving them).

Deterministic output: cluster_id = min clip_id of the component.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datasketches_pig_spark.config import DEFAULT_CONFIG, DedupConfig


DRIVER_DSU_MAX_EDGES = 5_000_000  # ~100 MB driver footprint


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """edges(a, b) + vertices(clip_id) → clusters(clip_id, cluster_id).

    Size-adaptive execution: after dedup-verification the edge set is orders
    of magnitude smaller than the input, so below DRIVER_DSU_MAX_EDGES a
    driver-side union-find (numpy DSU, milliseconds) replaces the iterative
    join loop; above it, distributed min-label propagation runs to a fixpoint.
    Vertices not touched by any edge become singleton clusters either way.
    The threshold is read at call time, so tests can set it.
    """
    max_rounds = (cfg or DEFAULT_CONFIG).max_unionfind_rounds
    cap = DRIVER_DSU_MAX_EDGES

    # size probe and edge fetch in ONE job: pull at most cap+1 rows — if the
    # limit was not hit, these rows ARE the full edge set and the driver DSU
    # runs on them directly (a separate count() probe would pay a second
    # scheduling round-trip for exactly the same scan)
    head = edges.select("a", "b").limit(cap + 1).toPandas()
    if len(head) <= cap:
        return _driver_dsu(head, vertices)

    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )

    labels = (
        sym.select(F.col("src").alias("clip_id"))
        .distinct()
        .withColumn("label", F.col("clip_id"))
        .localCheckpoint()
    )

    converged = False
    for _ in range(max_rounds):
        neighbor_min = (
            sym.join(labels, sym.src == labels.clip_id)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.clip_id == neighbor_min.dst, "left"
        ).select(
            "clip_id",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                "label"
            ),
        )
        # pointer jumping: label := label's label.  Collapses one level of
        # indirection per round, so min labels spread geometrically — the
        # step that turns O(diameter) propagation into O(log diameter)
        lbl = stepped.select(
            F.col("clip_id").alias("l_id"), F.col("label").alias("l_label")
        )
        new_labels = (
            stepped.join(lbl, stepped.label == lbl.l_id, "left")
            .select(
                "clip_id",
                F.coalesce("l_label", "label").alias("label"),
                (
                    F.coalesce("l_label", "label") != F.col("old_label")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        n_changed = new_labels.filter(F.col("changed")).limit(1).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "rounds (component diameter too large for the cap) — raise "
            "DedupConfig.max_unionfind_rounds; refusing to return a partial "
            "clustering"
        )

    return (
        vertices.select("clip_id")
        .join(labels, "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce("label", F.col("clip_id")).alias("cluster_id"),
        )
    )


def _numpy_cc(ea, eb, n):
    """Connected components over int edge arrays: vectorized min-label
    propagation + pointer jumping, O(E) numpy work per round and O(log n)
    rounds — replaces the per-edge Python DSU loop (~10× driver-wall cut at
    10^5-edge scale; the driver stage is a COMMON fixed cost on every
    cluster size, so shaving it raises measured scaling efficiency).
    Returns per-vertex component-minimum index."""
    import numpy as np

    label = np.arange(n, dtype=np.int64)
    while True:
        before = label
        m = np.minimum(label[ea], label[eb])
        label = label.copy()
        np.minimum.at(label, ea, m)
        np.minimum.at(label, eb, m)
        # pointer jumping to the fixpoint of label := label[label]
        while True:
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, before):
            return label


def _driver_dsu(epdf, vertices: DataFrame) -> DataFrame:
    """Vectorized connected components over an already-collected (small)
    edge frame; broadcast the label map back as a join.  Interning via
    sorted ``np.unique`` makes index order == string order, so the
    component-minimum index IS the min clip_id (deterministic cluster id)."""
    spark = vertices.sparkSession
    import numpy as np
    import pandas as pd

    if len(epdf) == 0:
        return vertices.select("clip_id", F.col("clip_id").alias("cluster_id"))

    both = np.concatenate(
        [epdf["a"].to_numpy(dtype=object), epdf["b"].to_numpy(dtype=object)]
    )
    names, inv = np.unique(both, return_inverse=True)  # sorted ⇒ string order
    ea, eb = inv[: len(epdf)], inv[len(epdf) :]
    label = _numpy_cc(ea, eb, len(names))

    labels = pd.DataFrame({"clip_id": names, "label": names[label]})
    ldf = spark.createDataFrame(labels)
    return (
        vertices.select("clip_id")
        .join(F.broadcast(ldf), "clip_id", "left")
        .select("clip_id", F.coalesce("label", F.col("clip_id")).alias("cluster_id"))
    )
