from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.catalog import load_table
from gcp_data_engineering_workshop_spark.operators import clustering as C
from gcp_data_engineering_workshop_spark.operators import similarity as S


def _mat(emb):
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    return ids, X


def _np_assign(X, cent):
    d2 = np.round(((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 6)
    a = d2.argmin(axis=1)
    return a, d2[np.arange(len(a)), a]


def test_kmeans_assign_matches_numpy(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    ids, X = _mat(emb)
    cent = X[np.argsort(ids)[:8]]
    want_a, want_d2 = _np_assign(X, cent)
    got = {r.vec_id: (r.cluster_id, r.d2)
           for r in C.kmeans_assign(emb, k=8).collect()}
    assert len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[vid][0] == want_a[i], vid
        assert abs(got[vid][1] - want_d2[i]) < 1e-9, vid


def test_kmeans_assign_is_map_only(spark, sf_dir):
    """100-TB posture: the E-step must be a single map-only stage —
    no Exchange anywhere in the plan."""
    emb = load_table(spark, "embeddings", sf_dir)
    plan = C.kmeans_assign(emb, k=8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_kmeans_fit_matches_numpy_lloyd(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    ids, X = _mat(emb)
    cent = X[np.argsort(ids)[:8]].copy()
    sses = []
    for _ in range(5):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        sses.append(float(d2[np.arange(len(a)), a].sum()))
        for c in range(8):
            m = a == c
            if m.any():
                # same decimal contract as the distributed fit
                cent[c] = np.round(X[m].mean(axis=0), 3)
    # SSE must be monotone non-increasing across Lloyd rounds (the
    # 1e-3 centroid grid perturbs each step by <= dim * 2.5e-7)
    assert all(s2 <= s1 + 1e-4 for s1, s2 in zip(sses, sses[1:]))
    asg, got_cent = C.kmeans_fit(emb, k=8, n_iter=5)
    # distributed centroids agree with the single-node reference
    # EXACTLY: both round to the same 1e-3 grid, which is far coarser
    # than the ~1e-12 partial-sum reorder drift
    assert np.allclose(got_cent, cent, atol=1e-12)
    want_a, _ = _np_assign(X, got_cent)
    got = {r.vec_id: r.cluster_id for r in asg.collect()}
    agree = sum(got[vid] == want_a[i] for i, vid in enumerate(ids))
    assert agree >= 0.99 * len(ids)


def test_kmeans_fit_collect_is_k_dim_bounded(spark, sf_dir,
                                             monkeypatch):
    """100-TB posture: the M-step partials combine in the CLUSTER —
    the driver collect is exactly k * dim rows per round, independent
    of both corpus size and partition count. Forces the DISTRIBUTED
    path — the r15 size gate would absorb a test-scale fit (its
    parity has its own test below)."""
    monkeypatch.setattr(C, "_KMEANS_LOCAL_SCALARS", 0)
    emb = load_table(spark, "embeddings", sf_dir).repartition(16)
    stats = {}
    _, cent = C.kmeans_fit(emb, k=8, n_iter=2, stats=stats)
    assert cent.shape == (8, 64)
    assert stats["combine_rows"] <= 8 * 64
    assert stats["regime"] == "distributed"


def test_kmeans_fit_local_matches_distributed(spark, sf_dir,
                                              monkeypatch):
    """The size-gated driver fit must produce the IDENTICAL rounded
    centroid grid and round count as the distributed loop (the
    decimal contract makes summation order invisible). The bound is
    n * dim scalars (driver regime: the gate is <=), then one less."""
    emb = load_table(spark, "embeddings", sf_dir).repartition(16)
    n = emb.count()
    s_loc, s_dist = {}, {}
    monkeypatch.setattr(C, "_KMEANS_LOCAL_SCALARS", n * 64)
    _, c_loc = C.kmeans_fit(emb, k=8, n_iter=5, stats=s_loc)
    assert s_loc["regime"] == "local"
    assert s_loc["n"] == s_loc["bound"] == n
    monkeypatch.setattr(C, "_KMEANS_LOCAL_SCALARS", n * 64 - 1)
    _, c_dist = C.kmeans_fit(emb, k=8, n_iter=5, stats=s_dist)
    assert s_dist["regime"] == "distributed"
    assert s_dist["bound"] == n - 1
    assert np.array_equal(c_loc, c_dist)
    assert s_loc["fit_rounds"] == s_dist["fit_rounds"]


def test_semdedup_within_cluster_exactness(spark, sf_dir):
    """SemDedup pairs == the exact pair set restricted to same-cluster
    (precision 1.0 by construction), and recall vs the full exact set
    is reported as bounded."""
    emb = load_table(spark, "embeddings", sf_dir)
    asg = {r.vec_id: r.cluster_id for r in C.kmeans_assign(emb, k=8).collect()}
    exact = {(r.vec_a, r.vec_b): r.dot_sim
             for r in S.embedding_neardup_pairs(emb, tau=0.4).collect()}
    want = {p: s for p, s in exact.items() if asg[p[0]] == asg[p[1]]}
    got = {(r.vec_a, r.vec_b): r.dot_sim
           for r in C.semdedup_pairs(emb, k=8, tau=0.4).collect()}
    assert got == want
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.2  # structural bound; real pairs cluster together


def test_semdedup_trained_end_to_end(spark, sf_dir):
    """C55: survivors = corpus minus non-canonical component members,
    with the pair graph exactly the same-trained-cluster exact pairs
    at production k ~ sqrt(n) sizing."""
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        semdedup_trained)
    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    k = max(2, int(round(n ** 0.5)))
    _, cent = C.kmeans_fit(emb, k=k, n_iter=5)
    asg = {r.vec_id: r.cluster_id
           for r in C.kmeans_assign(emb, cent=cent).collect()}
    exact = {(r.vec_a, r.vec_b)
             for r in S.embedding_neardup_pairs(emb, tau=0.4).collect()}
    pairs = {p for p in exact if asg[p[0]] == asg[p[1]]}
    # independent union-find over the expected pair graph
    parent = {v: v for v in asg}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for v in asg:
        comps.setdefault(find(v), set()).add(v)
    want_kept = {min(members) for members in comps.values()}
    got = {r.vec_id: r.cluster_id for r in
           semdedup_trained(spark, sf_dir).collect()}
    assert set(got) == want_kept
    # exactly one survivor per component; cluster ids match the
    # trained assignment
    assert all(got[v] == asg[v] for v in got)


def test_cc_parks_one_pooled_frame(spark, sf_dir):
    """Leak bound: a connected-components run releases its edge
    caches eagerly — at most the final label frame (plus nothing
    else from the run) stays in the session pool."""
    from gcp_data_engineering_workshop_spark.operators import cachepool
    from gcp_data_engineering_workshop_spark.operators.graph import (
        connected_components)
    cachepool.clear()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a bigint, doc_b bigint")
    out = {r.doc_id: r.component
           for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert cachepool.size() <= 1


def test_corpus_diff_statuses(spark, sf_dir):
    from gcp_data_engineering_workshop_spark.plans.textpipeline import corpus_diff
    docs = {r.doc_id: r.text
            for r in load_table(spark, "documents", sf_dir).collect()}
    want = {}
    for did, text in docs.items():
        in_old, in_new = did % 11 != 3, did % 13 != 5
        changed = did % 7 == 2 and text.upper() != text
        if in_old and not in_new:
            want[did] = "removed"
        elif in_new and not in_old:
            want[did] = "added"
        elif in_old and in_new and changed:
            want[did] = "changed"
    got = {r.doc_id: r.status for r in corpus_diff(spark, sf_dir).collect()}
    assert got == want


def test_semdedup_with_trained_centroids(spark, sf_dir):
    """Production composition: kmeans_fit centroids feed the SemDedup
    pair search. Pairs must be exactly the true pair set restricted
    to same-trained-cluster."""
    emb = load_table(spark, "embeddings", sf_dir)
    _, cent = C.kmeans_fit(emb, k=8, n_iter=3)
    asg = {r.vec_id: r.cluster_id
           for r in C.kmeans_assign(emb, cent=cent).collect()}
    exact = {(r.vec_a, r.vec_b) for r in
             S.embedding_neardup_pairs(emb, tau=0.4).collect()}
    want = {p for p in exact if asg[p[0]] == asg[p[1]]}
    got = {(r.vec_a, r.vec_b) for r in
           C.semdedup_pairs(emb, k=8, tau=0.4, cent=cent).collect()}
    assert got == want


def test_logistic_fit_matches_numpy_gd(spark, sf_dir):
    """C59: the distributed fit equals a single-node numpy GD
    reference EXACTLY (both round weights to the same 1e-6 grid),
    the combine collect is dim+1 rows, and the trained classifier
    beats chance on its lang='en' training signal."""
    from gcp_data_engineering_workshop_spark.operators import classifier as CL
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        quality_classifier, _docs_with_words)
    from pyspark.sql import functions as F
    from gcp_data_engineering_workshop_spark.functions import textfns as T

    d = _docs_with_words(spark, sf_dir)
    w = F.col("w"); text = F.col("text")
    n_chars = F.length(text)
    pr = F.when(n_chars > 0, F.regexp_count(text, F.lit(r"[^\w\s]"))
                .cast("double") / n_chars).otherwise(F.lit(0.0))
    dr = F.when(n_chars > 0, F.regexp_count(text, F.lit(r"[0-9]"))
                .cast("double") / n_chars).otherwise(F.lit(0.0))
    feats = d.select(
        "doc_id",
        F.array(F.least(F.size(w).cast("double") / 100.0, F.lit(1.0)),
                pr, dr, T.stopword_ratio_of(w, "en")).alias("features"),
        (F.col("lang") == "en").cast("double").alias("label"))
    rows = feats.orderBy("doc_id").collect()
    X = np.array([list(r.features) for r in rows])
    y = np.array([r.label for r in rows])
    ref = np.zeros(5)
    for _ in range(5):
        s = 1.0 / (1.0 + np.exp(-(X @ ref[:4] + ref[4])))
        g = np.concatenate([(s - y) @ X, [(s - y).sum()]]) / len(y)
        ref = np.round(ref - 0.5 * g, 6)
    # the DISTRIBUTED regime (bound one row short of the corpus) for
    # the combine-size contract, then the driver regime at exactly
    # n * (dim + 1) scalars (the gate is <=)
    import unittest.mock as _mock
    n = len(rows)
    with _mock.patch.object(CL, "_LOGREG_LOCAL_SCALARS", n * 5 - 1):
        stats = {}
        got = CL.logistic_fit(feats.repartition(8), dim=4, n_iter=5,
                              stats=stats)
    assert stats["regime"] == "distributed"
    assert stats["bound"] == n - 1
    assert stats["combine_rows"] <= 5
    assert np.array_equal(got, ref)
    # the gated driver regime must produce the identical weights
    stats_l = {}
    with _mock.patch.object(CL, "_LOGREG_LOCAL_SCALARS", n * 5):
        got_l = CL.logistic_fit(feats.repartition(8), dim=4, n_iter=5,
                                stats=stats_l)
    assert stats_l["regime"] == "local"
    assert stats_l["n"] == stats_l["bound"] == n
    assert np.array_equal(got_l, ref)
    # empty input: the shared update leaves w at the zero vector
    stats_e = {}
    got_e = CL.logistic_fit(feats.limit(0), dim=4, n_iter=5, stats=stats_e)
    assert stats_e["regime"] == "local" and stats_e["n"] == 0
    assert np.array_equal(got_e, np.zeros(5))
    out = {r.doc_id: r.predicted
           for r in quality_classifier(spark, sf_dir).collect()}
    labels = {r.doc_id: bool(r.label) for r in rows}
    acc = sum(out[k] == labels[k] for k in labels) / len(labels)
    base = max(sum(labels.values()), len(labels) - sum(labels.values())) \
        / len(labels)
    assert acc >= base - 0.02  # at least the majority-class floor


def test_cc_pointer_jumping_on_long_chain(spark, monkeypatch):
    """A 64-node path graph must converge in O(log n) rounds (plain
    propagation would take ~63), with exact components. Forces the
    DISTRIBUTED path — the r15 local (driver-side) gate would otherwise
    absorb a graph this small (its parity has its own test)."""
    from gcp_data_engineering_workshop_spark.operators import graph
    monkeypatch.setattr(graph, "_CC_LOCAL_EDGE_BOUND", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)] + [(100, 101)],
        "doc_a bigint, doc_b bigint")
    stats = {}
    out = {r.doc_id: r.component
           for r in graph.connected_components(
               edges, stats=stats).collect()}
    assert all(out[i] == 0 for i in range(64))
    assert out[100] == 100 and out[101] == 100
    assert stats["rounds"] <= 10  # ~log2(63) + slack; was 63
    assert stats["regime"] == "distributed"


def test_kmeans_fit_early_exit_is_fixed_point(spark):
    """The Lloyd loop early-exits once the rounded centroid grid
    stops moving, and the exit is invisible in the result: a corpus
    that converges in one round returns the same centroids whether
    n_iter is 2 or 10, with fit_rounds recording the cut."""
    import numpy as np
    # two tight blobs far apart: the seed split is already optimal,
    # so round 2's M-step reproduces round 1's rounded centroids
    rows = [(i, [float(i % 2) * 10.0 + (i % 5) * 1e-4] * 4)
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    s_short, s_long = {}, {}
    _, c_short = C.kmeans_fit(emb, k=2, n_iter=2, stats=s_short)
    _, c_long = C.kmeans_fit(emb, k=2, n_iter=10, stats=s_long)
    assert np.array_equal(c_short, c_long)
    assert s_long["fit_rounds"] < 10
    assert s_long["fit_rounds"] <= s_short["fit_rounds"] + 1
