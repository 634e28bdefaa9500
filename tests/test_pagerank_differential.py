"""Differential test for operators/graph.pagerank: the DataFrame loop must
match a direct numpy power-iteration of the same formulation (damped,
weighted, dangling mass redistributed uniformly) on randomized graphs —
the same style of kernel-vs-reference check as the PQ encode and BPE
train differentials."""

from __future__ import annotations

import random

import numpy as np
import pytest

from oco3_data_transformer_spark.operators.graph import pagerank


def _reference(edges, iters, damping):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    for s, d, w in edges:
        P[idx[s], idx[d]] = P[idx[s], idx[d]] + w / out_w[s]
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = pr @ P
        dm = 1.0 - contrib.sum()  # conservation: dangling mass
        pr = (1.0 - damping) / n + damping * (contrib + dm / n)
    return dict(zip(nodes, pr))


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("kernel", ["local", "distributed"])
def test_pagerank_matches_numpy_power_iteration(spark, seed, kernel):
    rng = random.Random(seed)
    n_nodes = rng.randint(5, 12)
    names = [f"n{i}" for i in range(n_nodes)]
    edges = []
    seen = set()
    for _ in range(rng.randint(n_nodes, 3 * n_nodes)):
        s, d = rng.choice(names), rng.choice(names)
        if s != d and (s, d) not in seen:
            seen.add((s, d))
            edges.append((s, d, float(rng.randint(1, 5))))
    # leave at least one node dangling when possible: drop all out-edges
    # of the last source (exercises the dangling-mass term)
    drop = names[-1]
    edges = [e for e in edges if e[0] != drop] or [(names[0], names[1], 1.0)]

    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r.node: r.pr
        for r in pagerank(df, "src", "dst", "w", iters=7, kernel=kernel).collect()
    }
    want = _reference(edges, iters=7, damping=0.85)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_persist_fifo_bounds_cached_tables(spark):
    """ADVICE r06: the auto regime gate persisted one edge table per call
    and never unpersisted — a cache leak in long-lived sessions. The
    bounded FIFO must (a) cap the registry and (b) actually unpersist
    evicted entries (an evicted cache is a recompute, not an error)."""
    from oco3_data_transformer_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "a long, b long, w double"
    )
    G._PERSISTED_FIFO.clear()
    for _ in range(G._PERSISTED_CAP + 4):
        G.pagerank(edges, "a", "b", "w", iters=2).collect()
    assert len(G._PERSISTED_FIFO) == G._PERSISTED_CAP
    # drain: everything unpersists cleanly
    while G._PERSISTED_FIFO:
        G._PERSISTED_FIFO.pop().unpersist(blocking=False)


def test_persist_fifo_keeps_a_cache_a_newer_entry_shares(spark):
    """A repeated call persists a plan that is still cached, and Spark
    shares one cache entry between the two frames: evicting the older
    frame must not unpersist the entry the newer one reads. An evicted
    frame that nothing newer shares is still unpersisted."""
    from pyspark import StorageLevel

    from oco3_data_transformer_spark.operators import graph as G

    def frame(k):
        return spark.range(10).selectExpr(f"id * {k} AS x")

    G._PERSISTED_FIFO.clear()
    G._persist_bounded(frame(2))
    for k in range(3, G._PERSISTED_CAP + 2):
        G._persist_bounded(frame(k))
    again = G._persist_bounded(frame(2))  # evicts the first frame(2)
    assert again.storageLevel != StorageLevel.NONE
    G._persist_bounded(frame(100))  # evicts frame(3)
    assert frame(3).storageLevel == StorageLevel.NONE
    while G._PERSISTED_FIFO:
        G._PERSISTED_FIFO.pop().unpersist(blocking=False)
