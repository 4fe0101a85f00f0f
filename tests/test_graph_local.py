"""Parity: the r15 size-gated driver-side CC path must produce
exactly the distributed loop's rows (component = min node id is a
unique fixed point — both algorithms converge to it)."""

from __future__ import annotations

import random

from gcp_data_engineering_workshop_spark.operators import graph


def _random_edges(rng, n_nodes, n_edges):
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


def _reference_components(edges):
    """Pure-python union-find, min-id labels."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_cc_local_matches_distributed_and_reference(spark, monkeypatch):
    """Each case runs once with the bound at exactly its edge count
    (driver regime: the gate is <=) and once at one less (the
    distributed loop). The distributed run leaves nothing persisted
    once the pool and the cache are cleared."""
    from gcp_data_engineering_workshop_spark.operators import cachepool

    jsc = spark.sparkContext._jsc
    rng = random.Random(42)
    cases = [
        [],  # no edges
        [(5, 5)],  # self loop
        [(1, 2), (2, 3), (3, 4), (10, 11)],  # chain + pair
        _random_edges(rng, 40, 120),  # dense-ish
        _random_edges(rng, 500, 200),  # sparse, many singletons
        [(i, i + 1) for i in range(64)],  # long chain
    ]
    for i, edges in enumerate(cases):
        df = spark.createDataFrame(
            edges or [(0, 0)], "doc_a bigint, doc_b bigint")
        if not edges:
            df = df.where("doc_a < 0")
        stats_l, stats_d = {}, {}
        monkeypatch.setattr(graph, "_CC_LOCAL_EDGE_BOUND", len(edges))
        local = {(r.doc_id, r.component)
                 for r in graph.connected_components(
                     df, stats=stats_l).collect()}
        monkeypatch.setattr(graph, "_CC_LOCAL_EDGE_BOUND", len(edges) - 1)
        cachepool.clear()
        spark.catalog.clearCache()
        before = jsc.getPersistentRDDs().size()
        dist = {(r.doc_id, r.component)
                for r in graph.connected_components(
                    df, stats=stats_d).collect()}
        cachepool.clear()
        spark.catalog.clearCache()
        assert jsc.getPersistentRDDs().size() == before, f"case {i}"
        assert local == dist, f"case {i}"
        ref = set(_reference_components(edges).items())
        assert local == ref, f"case {i}"
        assert stats_l["regime"] == "local", f"case {i}"
        assert stats_d["regime"] == "distributed", f"case {i}"
        assert stats_l["n"] == stats_d["n"] == len(edges), f"case {i}"


def test_cc_local_non_bigint_falls_back(spark):
    """Non-bigint node ids skip the local path (its schema is
    pinned int64) and still produce correct components."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a int, doc_b int")
    stats = {}
    out = {(r.doc_id, r.component)
           for r in graph.connected_components(df, stats=stats).collect()}
    assert out == {(1, 1), (2, 1), (3, 1)}
    assert stats["regime"] == "distributed"
    assert "n" not in stats  # decided without counting the edges


def test_cc_local_regime_leaves_no_cache(spark):
    """The local regime runs in the driver: it pools no frame (the
    edge cache it counts is released) and records its gate inputs."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a bigint, doc_b bigint")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    stats = {}
    out = {(r.doc_id, r.component)
           for r in graph.connected_components(df, stats=stats).collect()}
    assert out == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert jsc.getPersistentRDDs().size() == before
    assert stats["regime"] == "local"
    assert stats["n"] == 3
    assert stats["bound"] == graph._CC_LOCAL_EDGE_BOUND
