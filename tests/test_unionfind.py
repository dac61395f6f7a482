"""Union-find: distributed min-label propagation vs driver-side DSU must
produce identical clusters; singletons stay singleton."""

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def graph(spark):
    # components: {a,b,c,d} via chain, {e,f}, singleton {g}; plus a 4-cycle
    edges = pd.DataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("h", "i"), ("i", "j"), ("j", "k"), ("k", "h")],
        columns=["a", "b"],
    )
    verts = pd.DataFrame({"clip_id": list("abcdefghijk")})
    return spark.createDataFrame(edges), spark.createDataFrame(verts)


EXPECTED = {
    "a": "a", "b": "a", "c": "a", "d": "a",
    "e": "e", "f": "e", "g": "g",
    "h": "h", "i": "h", "j": "h", "k": "h",
}


def test_driver_dsu_path(spark, graph):
    from datasketches_pig_spark.operators.unionfind import connected_components

    edges, verts = graph
    out = connected_components(edges, verts)  # small → driver DSU
    got = {r.clip_id: r.cluster_id for r in out.collect()}
    assert got == EXPECTED


def test_distributed_path_identical(spark, graph, monkeypatch):
    from datasketches_pig_spark.operators import unionfind
    from datasketches_pig_spark.operators.unionfind import connected_components

    edges, verts = graph
    monkeypatch.setattr(unionfind, "DRIVER_DSU_MAX_EDGES", 0)  # force joins
    out = connected_components(edges, verts)
    got = {r.clip_id: r.cluster_id for r in out.collect()}
    assert got == EXPECTED


def _scalar_dsu(edges, verts):
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in verts}


@pytest.mark.parametrize(
    "shape,n,extra",
    [
        ("random", 400, 300),  # Erdős–Rényi-ish: 300 random edges on 400 verts
        ("path", 200, 0),      # single long chain — max propagation rounds
        ("star", 300, 0),      # one hub — the hot-key shape salting exists for
    ],
)
def test_distributed_matches_scalar_dsu_on_generated_graphs(
    spark, shape, n, extra, monkeypatch
):
    """Distributed min-label propagation == scalar DSU on seeded generated
    graphs, including the two pathological shapes (long path: many fixpoint
    rounds; star: one high-degree vertex)."""
    import numpy as np

    from datasketches_pig_spark.operators import unionfind
    from datasketches_pig_spark.operators.unionfind import connected_components

    rng = np.random.default_rng(4242)
    verts = [f"v{i:04d}" for i in range(n)]
    if shape == "random":
        pairs = rng.integers(0, n, size=(extra, 2))
        edges = [(verts[a], verts[b]) for a, b in pairs if a != b]
    elif shape == "path":
        edges = [(verts[i], verts[i + 1]) for i in range(n - 1)]
    else:
        edges = [(verts[0], verts[i]) for i in range(1, n)]

    expected = _scalar_dsu(edges, verts)
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
    vdf = spark.createDataFrame(pd.DataFrame({"clip_id": verts}))
    monkeypatch.setattr(unionfind, "DRIVER_DSU_MAX_EDGES", 0)  # force joins
    out = connected_components(edf, vdf)
    got = {r.clip_id: r.cluster_id for r in out.collect()}
    assert got == expected
