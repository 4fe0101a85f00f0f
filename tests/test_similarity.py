from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.catalog import load_table
from gcp_data_engineering_workshop_spark.functions import vectorfns as V
from gcp_data_engineering_workshop_spark.operators import similarity as S


def test_dot_and_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]),
         ([3.0, 4.0], [3.0, 4.0])],
        "a array<float>, b array<float>")
    rows = df.select(V.dot("a", "b").alias("d"),
                     V.cosine("a", "b").alias("c")).collect()
    assert rows[0].d == pytest.approx(1.0) and rows[0].c == pytest.approx(1.0)
    assert rows[1].d == pytest.approx(0.0)
    assert rows[2].d == pytest.approx(25.0) and rows[2].c == pytest.approx(1.0)


def test_neardup_threshold(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    rows = S.embedding_neardup_pairs(emb, tau=0.4).collect()
    assert all(r.dot_sim >= 0.4 and r.vec_a < r.vec_b for r in rows)


def test_ann_topk_exact_ordering(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    out = S.ann_topk(emb, n_queries=3, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert len(rs) == 5
        sims = [r.dot_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.ann_topk(emb, n_queries=10, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in S.ann_lsh_topk(emb, n_queries=10, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall:.2f} too low"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.ann_topk(emb, n_queries=10, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in S.ann_ivf_topk(emb, n_queries=10, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f} too low"


def test_neardup_lsh_matches_exact_pairs(spark, sf_dir):
    """C5 scale twin: the LSH-bucketed threshold join must recover
    the exact all-pairs result (per-pair miss prob ~9e-9 at tau=0.4
    with 64 tables x 3 planes — deterministic seed, so this is a
    stable equality, not a flaky bound), and its plan must not
    contain a nested-loop / cartesian join."""
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.vec_a, r.vec_b, r.dot_sim)
             for r in S.embedding_neardup_pairs(emb, tau=0.4).collect()}
    lsh_df = S.embedding_neardup_lsh(emb, tau=0.4)
    lsh = {(r.vec_a, r.vec_b, r.dot_sim) for r in lsh_df.collect()}
    assert lsh == exact and len(exact) > 0
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_neardup_blocked_matches_exact_pairs(spark, sf_dir):
    """C32: the angular-cluster-pruned threshold join is EXACT —
    equality vs all-pairs is a theorem (triangle inequality), not a
    recall bound — and its plan has no nested-loop/cartesian join."""
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.vec_a, r.vec_b, r.dot_sim)
             for r in S.embedding_neardup_pairs(emb, tau=0.4).collect()}
    blk_df = S.embedding_neardup_blocked(emb, tau=0.4)
    blk = {(r.vec_a, r.vec_b, r.dot_sim) for r in blk_df.collect()}
    assert blk == exact and len(exact) > 0
    plan = blk_df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_neardup_blocked_prunes_clustered_corpus(spark):
    """C32 pruning power: on a corpus with real cluster structure
    (8 separated clusters, within-sim ~0.95+, cross-sim ~0) the
    block-pair matrix goes sparse and >80% of all-pairs candidates
    die BEFORE the verify stage — while the output still equals the
    exact all-pairs result."""
    import numpy as np
    rng = np.random.default_rng(7)
    rows = []
    for vid in range(200):
        c = vid % 8
        v = 0.03 * rng.standard_normal(64)
        v[c] += 1.0
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    n = len(rows)
    all_pairs = n * (n - 1) // 2
    cand = S._blocked_candidates(emb, tau=0.9, n_blocks=16, sample_size=200)
    n_cand = cand.count()
    assert n_cand < 0.2 * all_pairs, \
        f"pruned too little: {n_cand}/{all_pairs} candidates survived"
    exact = {(r.vec_a, r.vec_b, r.dot_sim)
             for r in S.embedding_neardup_pairs(emb, tau=0.9).collect()}
    blk = {(r.vec_a, r.vec_b, r.dot_sim)
           for r in S.embedding_neardup_blocked(
               emb, tau=0.9, n_blocks=16, sample_size=200).collect()}
    assert blk == exact and len(exact) > 0


def test_canonical_table_filter_equals_dedup(spark, sf_dir):
    """The bit-twiddled first-equal-table filter must reproduce
    dropDuplicates EXACTLY (each colliding pair once) — it replaces
    the dedup exchange in embedding_neardup_lsh's plan."""
    from pyspark.sql import functions as F
    from gcp_data_engineering_workshop_spark.operators.similarity import (
        _hyperplane_bucketer, _canonical_table_expr)
    from gcp_data_engineering_workshop_spark.catalog import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    bucketed = _hyperplane_bucketer(64, 3)
    b = bucketed(emb.select(F.col("vec_id").alias("vid"),
                            F.col("embedding").alias("e")),
                 "vid", "e", with_sig=True)
    x = b.select(F.col("vid").alias("vec_a"), "tbl", "bucket",
                 *[F.col(f"sig{w}").alias(f"xs{w}") for w in range(4)])
    y = b.select(F.col("vid").alias("vec_b"), "tbl", "bucket",
                 *[F.col(f"sig{w}").alias(f"ys{w}") for w in range(4)])
    joined = x.join(y, ["tbl", "bucket"]).where(F.col("vec_a") < F.col("vec_b"))
    canon = joined.where(F.expr(_canonical_table_expr(64))) \
                  .select("vec_a", "vec_b")
    assert canon.groupBy("vec_a", "vec_b").count() \
                .where(F.col("count") > 1).count() == 0
    dedup = joined.select("vec_a", "vec_b").dropDuplicates(["vec_a", "vec_b"])
    assert dedup.join(canon, ["vec_a", "vec_b"], "left_anti").count() == 0
    assert canon.count() == dedup.count()


def test_neardup_blocked_salted_is_exact_and_unduplicated(spark, sf_dir):
    """C32 skew valve: salting block pairs into salt^2 sub-keys
    changes the physical fan-out only — the candidate multiset still
    contains every pair exactly once (count identical to unsalted)
    and the verified output still equals the exact all-pairs set."""
    emb = load_table(spark, "embeddings", sf_dir)
    plain = S._blocked_candidates(emb, tau=0.4, n_blocks=16,
                                  sample_size=2048, salt=1).count()
    salted = S._blocked_candidates(emb, tau=0.4, n_blocks=16,
                                   sample_size=2048, salt=4).count()
    assert salted == plain
    exact = {(r.vec_a, r.vec_b, r.dot_sim)
             for r in S.embedding_neardup_pairs(emb, tau=0.4).collect()}
    got = {(r.vec_a, r.vec_b, r.dot_sim)
           for r in S.embedding_neardup_blocked(emb, tau=0.4, salt=4).collect()}
    assert got == exact and len(exact) > 0


def test_ann_pq_recall_vs_bruteforce(spark, sf_dir):
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.ann_topk(emb, n_queries=10, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in S.ann_pq_topk(emb, n_queries=10, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall {recall:.2f} too low"


def test_topk_per_key_equals_global_window(spark):
    """Two-phase local top-k + merge must reproduce the global
    per-key window EXACTLY — including rank values and tie-breaks —
    on a frame spread over many partitions with deliberate score
    ties."""
    import itertools
    from pyspark.sql.window import Window

    rows = [(q, n, float((q * 7 + n * 3) % 11))  # many ties per key
            for q, n in itertools.product(range(4), range(300))
            if q != n]
    df = spark.createDataFrame(
        rows, "query_id int, neighbor_id int, dot_sim double"
    ).repartition(16)
    got = {(r.query_id, r.neighbor_id, r.dot_sim, r.rank)
           for r in S._topk_per_key(df, 5).collect()}
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_sim").desc(), F.col("neighbor_id"))
    want = {(r.query_id, r.neighbor_id, r.dot_sim, r.rank)
            for r in df.withColumn("rank", F.row_number().over(w))
                       .where(F.col("rank") <= 5).collect()}
    assert got == want and len(want) == 20


def test_topk_local_phase_bounds_stream(spark):
    """The map phase's output is bounded by n_parts * n_keys * k —
    independent of input size — so the final window never sees a
    corpus-length stream."""
    rows = [(q, n, float(n)) for q in range(3) for n in range(2000)]
    df = spark.createDataFrame(
        rows, "query_id int, neighbor_id int, dot_sim double"
    ).repartition(8)
    reduced = S._partition_local_topk(df, "query_id", "dot_sim",
                                      "neighbor_id", 5)
    assert reduced.count() <= 8 * 3 * 5


def test_ann_selection_is_two_phase(spark, sf_dir):
    """Plan guard for the 100-TB posture: every ANN path's final
    selection must run the bounded local top-k (MapInPandas) BEFORE
    its rank window — the per-query global-Window-over-the-full-
    candidate-stream shape must not reappear."""
    emb = load_table(spark, "embeddings", sf_dir)
    for df in (S.ann_topk(emb, n_queries=10, k=5),
               S.ann_lsh_topk(emb, n_queries=10, k=5),
               S.ann_ivf_topk(emb, n_queries=10, k=5),
               S.ann_pq_topk(emb, n_queries=10, k=5)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        # the window input must be the reduced stream: MapInPandas
        # appears below (after, in top-down print order) the Window
        assert plan.index("Window") < plan.index("MapInPandas")


def test_ann_pq_approx_pass_prunes_embedding_column(spark, sf_dir):
    """The PQ promise: the approximate scoring pass reads CODES, not
    raw vectors — the window that ranks approx scores must sit on a
    plan whose scan pruned nothing but (vec_id, embedding->codes);
    concretely, the re-rank join is the ONLY place the embedding
    column re-enters. Assert the candidate stage's scan schema
    doesn't ship the embedding to the approx ranking exchange."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    df = S.ann_pq_topk(emb, n_queries=10, k=5)
    rows = df.collect()
    # contract shape: k rows per query, ranks 1..k, exact dots sorted
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, 6)), q
        dots = [r.dot_sim for r in rs]
        assert dots == sorted(dots, reverse=True), q


def test_auto_lsh_params_scales_planes_with_n():
    """High tau affords P ~ log2(n): plane count must grow with the
    corpus while tables stay within budget. Low tau is recall-bound
    and must stay on the small-P canonical-filter path."""
    t1, p1 = S.auto_lsh_params(0.9, 2_000, max_tables=320)
    t2, p2 = S.auto_lsh_params(0.9, 2_000_000, max_tables=320)
    assert p2 > p1 and t2 <= 320
    _, p3 = S.auto_lsh_params(0.4, 2_000_000)
    assert p3 <= 4


def test_lsh_auto_high_tau_matches_exact(spark):
    """The auto path (P > 4, dropDuplicates dedup instead of the
    canonical-table filter) must reproduce the exact pair set on a
    planted-cluster corpus at tau=0.9."""
    import numpy as np

    rng = np.random.default_rng(123)
    centers = rng.standard_normal((40, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[:, None, :] + 0.0433 * rng.standard_normal((40, 4, 64))
    pts = pts.reshape(-1, 64)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>")
    exact = {(r.vec_a, r.vec_b, r.dot_sim)
             for r in S.embedding_neardup_pairs(emb, tau=0.9).collect()}
    got = {(r.vec_a, r.vec_b, r.dot_sim)
           for r in S.embedding_neardup_lsh(
               emb, tau=0.9, auto=True, max_tables=320).collect()}
    assert len(exact) > 50        # the planted pairs exist
    assert got == exact


def test_ann_ivfpq_recall_vs_bruteforce(spark, sf_dir):
    """C63: IVF-PQ (residual codebooks + probed-list ADC + exact
    re-rank) holds the same recall floor as the other approximate
    paths, and its approximate pass scores at most the probing
    queries per corpus row."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.ann_topk(emb, n_queries=10, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in S.ann_ivfpq_topk(emb, n_queries=10, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF-PQ recall {recall:.2f} too low"


def test_pca_fit_matches_numpy_and_projects_exactly(spark, sf_dir):
    """C69: the distributed fit equals an independent numpy PCA under
    the same rounding contract (mean, components with fixed signs,
    descending eigenvalues), the combine stays dim-bounded, and the
    projection rows equal (X - mean) @ W^T."""
    import numpy as np
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators.pca import (
        pca_fit, pca_project)

    emb = load_table(spark, "embeddings", sf_dir)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    n, dim = X.shape

    stats = {}
    mean, comps, ev = pca_fit(emb.repartition(16), n_components=8,
                              stats=stats)
    assert stats["combine_rows"] == 1 + dim + dim * (dim + 1) // 2
    # independent reference with the same decimal contract
    rmean = np.round(X.sum(axis=0) / n, 6)
    g = X.T @ X
    s = X.sum(axis=0)
    rcov = np.round((g - np.outer(s, s) / n) / (n - 1), 6)
    w, v = np.linalg.eigh(rcov)
    order = np.argsort(w)[::-1][:8]
    rcomps = v[:, order].T.copy()
    for c in rcomps:
        k = int(np.argmax(np.abs(np.round(c, 6))))
        if c[k] < 0:
            c *= -1.0
    assert np.array_equal(mean, rmean)
    assert np.allclose(comps, np.round(rcomps, 6), atol=2e-6)
    assert list(ev) == sorted(ev, reverse=True)
    # orthonormal basis (to rounding)
    assert np.allclose(comps @ comps.T, np.eye(8), atol=1e-3)
    # projection parity, exact under the shared rounding
    want = np.round((X - mean) @ comps.T, 6)
    got = {}
    for r in pca_project(emb, mean, comps).collect():
        got.setdefault(r.vec_id, {})[r.comp_idx] = r.value
    assert set(got) == set(ids.tolist())
    for i, vid in enumerate(ids.tolist()):
        assert [got[vid][j] for j in range(8)] == list(want[i])


def test_pagerank_knn_invariants(spark, sf_dir):
    """C80: ranks are positive, total mass conserves to ~1 (integer
    truncation loses < n*2e-12 + n*20e-12 per round), hub nodes
    (high in-degree in the kNN graph) outrank leaf nodes (zero
    in-degree gets exactly the teleport floor), and a second run is
    bit-identical."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators import similarity as S
    from gcp_data_engineering_workshop_spark.plans import textpipeline as tp

    rows = {r.vec_id: r.pagerank
            for r in tp.pagerank_knn(spark, sf_dir).collect()}
    n = len(rows)
    assert n > 0 and all(v > 0 for v in rows.values())
    assert abs(sum(rows.values()) - 1.0) < 1e-6 * n
    edges = S.ann_topk(load_table(spark, "embeddings", sf_dir),
                       n_queries=1 << 62, k=5) \
        .groupBy("neighbor_id").agg(F.count(F.lit(1)).alias("deg")) \
        .collect()
    indeg = {r.neighbor_id: r.deg for r in edges}
    floor = min(rows.values())
    zero_in = [v for k_, v in rows.items() if k_ not in indeg]
    if zero_in:
        assert all(abs(v - floor) < 1e-12 for v in zero_in)
    hubs = sorted(indeg, key=lambda d: -indeg[d])[:5]
    assert min(rows[h] for h in hubs) > floor
    again = {r.vec_id: r.pagerank
             for r in tp.pagerank_knn(spark, sf_dir).collect()}
    assert again == rows


def test_pagerank_knn_local_matches_distributed(spark, sf_dir,
                                                monkeypatch):
    """C80 r15 gate parity: the size-gated driver-local power
    iteration must reproduce the distributed loop bit-for-bit —
    both run the identical exact int64 arithmetic (mass = sum of
    pr div k over in-edges; pr' = teleport + (17*mass) div 20, all
    values non-negative so python // == SQL div), and the final
    /1e12 is the same single IEEE op in both paths."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators import gate
    from gcp_data_engineering_workshop_spark.plans import textpipeline as tp

    # the gate sees k * n edges: the bound at exactly that (driver
    # regime, the gate is <=) and one less (distributed loop)
    seen = []
    real = gate.driver_table

    def spy(df, bound, stats=None, n=None):
        tb = real(df, bound, stats, n=n)
        seen.append((bound, n, tb is not None))
        return tb

    monkeypatch.setattr(gate, "driver_table", spy)
    edges = 5 * load_table(spark, "embeddings", sf_dir).count()
    monkeypatch.setattr(tp, "_PR_LOCAL_EDGE_BOUND", edges)
    local = {(r.vec_id, r.pagerank)
             for r in tp.pagerank_knn(spark, sf_dir).collect()}
    monkeypatch.setattr(tp, "_PR_LOCAL_EDGE_BOUND", edges - 1)
    dist = {(r.vec_id, r.pagerank)
            for r in tp.pagerank_knn(spark, sf_dir).collect()}
    assert seen == [(edges, edges, True), (edges - 1, edges, False)]
    assert local == dist


def test_semdedup_keep_central_invariants(spark, sf_dir):
    """C82: same component partition as C55, exactly one survivor
    per component, and the survivor is the min-(d2, vec_id) member —
    while C55 keeps min vec_id (they differ iff the most central
    member is not the lowest id)."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators.clustering import (
        kmeans_fit, kmeans_assign, semdedup_pairs)
    from gcp_data_engineering_workshop_spark.operators.graph import (
        connected_components)
    from gcp_data_engineering_workshop_spark.plans import textpipeline as tp

    surv = {r.vec_id for r in
            tp.semdedup_keep_central(spark, sf_dir).collect()}
    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    k = max(2, int(round(n ** 0.5)))
    _, cent = kmeans_fit(emb, k=k, n_iter=5)
    asg = kmeans_assign(emb, cent=cent, keep_embedding=True)
    d2 = {r.vec_id: r.d2 for r in asg.select("vec_id", "d2").collect()}
    comp = {r.doc_id: r.component for r in connected_components(
        semdedup_pairs(emb, tau=0.4, cent=cent, asg=asg),
        src="vec_a", dst="vec_b").collect()}
    by_comp = {}
    for node, c in comp.items():
        by_comp.setdefault(c, []).append(node)
    for c, members in by_comp.items():
        kept = [m for m in members if m in surv]
        assert len(kept) == 1
        assert kept[0] == min(members, key=lambda m: (d2[m], m))
    assert len(surv) == n - (len(comp) - len(by_comp))


def test_knn_graph_gemm_matches_join_form(spark, sf_dir):
    """The GEMM kNN graph equals ann_topk (the join form) row for
    row when both run over every vector."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    got = sorted(tuple(r) for r in S.knn_graph_gemm(emb, k=5).collect())
    want = sorted(tuple(r) for r in
                  S.ann_topk(emb, n_queries=1 << 62, k=5).collect())
    assert got == want and len(got) > 0


def test_knn_graph_ivf_full_probe_exact(spark, sf_dir):
    """With n_probe == n_lists every member list is probed, so the
    IVF edge build (no driver collect of the embedding table) must
    reproduce knn_graph_gemm's edge set EXACTLY — same ids, same
    rounded dots, same ranks."""
    emb = load_table(spark, "embeddings", sf_dir)
    got = sorted(tuple(r) for r in
                 S.knn_graph_ivf(emb, k=5, n_lists=8,
                                 n_probe=8).collect())
    want = sorted(tuple(r) for r in S.knn_graph_gemm(emb, k=5).collect())
    assert got == want and len(got) > 0


def test_knn_graph_ivf_default_probe_recall(spark, sf_dir):
    """Default-probe IVF edges: every vector still gets k edges, the
    within-candidate ordering contract holds, and edge recall vs the
    exact graph is high (probed lists are dense in true neighbors)."""
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.knn_graph_gemm(emb, k=5).collect()}
    approx_rows = S.knn_graph_ivf(emb, k=5, n_lists=8,
                                  n_probe=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    n_q = len({q for q, _ in exact})
    assert len({q for q, _ in approx}) == n_q
    by_q = {}
    for r in approx_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        keys = [(-r.dot_sim, r.neighbor_id) for r in rs]
        assert keys == sorted(keys)
        assert all(r.neighbor_id != q for r in rs)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_pagerank_knn_ivf_close_to_exact(spark, sf_dir):
    """C84: the IVF-edge PageRank ranks centrality like the exact
    graph (Spearman-ish check: top-decile overlap) and sums to ~1."""
    import gcp_data_engineering_workshop_spark.plans.textpipeline as tp

    exact = {r.vec_id: r.pagerank
             for r in tp.pagerank_knn(spark, sf_dir).collect()}
    approx = {r.vec_id: r.pagerank
              for r in tp.pagerank_knn_ivf(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    total = sum(approx.values())
    assert abs(total - 1.0) < 0.05
    top = max(1, len(exact) // 10)
    top_e = set(sorted(exact, key=lambda v: -exact[v])[:top])
    top_a = set(sorted(approx, key=lambda v: -approx[v])[:top])
    assert len(top_e & top_a) / top >= 0.5


def test_knn_graph_ivf_tiny_and_empty_inputs(spark, sf_dir):
    """ADVICE r7: fewer rows than n_lists must degrade to the exact
    small-case build (n_lists clamps to the sample size), and an
    empty corpus returns an empty edge frame with the edge schema —
    knn_graph_gemm's behavior at these sizes."""
    emb = load_table(spark, "embeddings", sf_dir)
    tiny = emb.orderBy("vec_id").limit(4)
    got = sorted(tuple(r) for r in
                 S.knn_graph_ivf(tiny, k=2, n_lists=16,
                                 n_probe=8).collect())
    want = sorted(tuple(r) for r in
                  S.knn_graph_gemm(tiny, k=2).collect())
    assert got == want and len(got) > 0

    empty = emb.where("vec_id < 0")
    out = S.knn_graph_ivf(empty, k=2)
    # column-identical to the populated path (incl. rank) — a
    # data-dependent schema on empty input is a downstream landmine
    # (ADVICE r8)
    assert out.columns == ["query_id", "neighbor_id", "dot_sim",
                           "rank"]
    assert out.count() == 0


def test_knn_graph_ivf_deterministic(spark, sf_dir):
    """ADVICE r7: the quantizer sample is orderBy(vec_id).limit(N),
    so two builds over the same corpus emit identical edges even at
    the approximate default probe."""
    emb = load_table(spark, "embeddings", sf_dir)
    a = sorted(tuple(r) for r in
               S.knn_graph_ivf(emb, k=3, n_lists=8, n_probe=2,
                               sample_size=64).collect())
    b = sorted(tuple(r) for r in
               S.knn_graph_ivf(emb, k=3, n_lists=8, n_probe=2,
                               sample_size=64).collect())
    assert a == b and len(a) > 0


def test_ann_index_full_probe_equals_brute_force(spark, sf_dir, tmp_path):
    """C88: with n_probe == n_lists the disk index reproduces
    ann_topk EXACTLY — same ids, rounded dots, ranks."""
    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "ivf_idx")
    n_lists = S.ann_index_build(emb, idx, n_lists=8)
    q = emb.where(F.col("vec_id") < 10)
    got = sorted(tuple(r) for r in
                 S.ann_index_topk(spark, idx, q, k=5,
                                  n_probe=n_lists).collect())
    want = sorted(tuple(r) for r in
                  S.ann_topk(emb, n_queries=10, k=5).collect())
    assert got == want and len(got) > 0


def test_ann_index_partition_pruning_and_recall(spark, sf_dir, tmp_path):
    """The point of the layout: at n_probe < n_lists the query scan
    opens only the probed lists' files (partition pruning at the
    storage layer), and recall vs brute force stays high."""
    import os

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "ivf_idx")
    S.ann_index_build(emb, idx, n_lists=8)
    all_files = [os.path.join(dp, f)
                 for dp, _, fs in os.walk(os.path.join(idx, "lists"))
                 for f in fs if f.endswith(".parquet")]
    # ONE query, 2 of 8 lists probed: the pruned scan must open a
    # strict subset of the index files (10 queries' unions can
    # legitimately cover every list on this small corpus)
    import json
    import numpy as np
    side = json.load(open(os.path.join(idx, "centroids.json")))
    cent = np.asarray(side["centroids"])
    one = emb.where(F.col("vec_id") == 0).collect()[0]
    probed1 = np.argsort(
        -(cent @ np.asarray(one.embedding, dtype=np.float64)))[:2]
    pruned_scan = (spark.read.parquet(os.path.join(idx, "lists"))
                   .where(F.col("list_id").isin(
                       [int(x) for x in probed1])))
    # the filter must reach the scan as a PARTITION filter (pruned
    # before IO), and the probed partition DIRECTORIES are a strict
    # subset of the layout
    plan = pruned_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    probed_files = [f for f in all_files
                    if any(f"list_id={int(x)}/" in f for x in probed1)]
    assert 0 < len(probed_files) < len(all_files)

    q = emb.where(F.col("vec_id") < 10)
    approx = {(r.query_id, r.neighbor_id) for r in
              S.ann_index_topk(spark, idx, q, k=5, n_probe=3).collect()}
    exact = {(r.query_id, r.neighbor_id) for r in
             S.ann_topk(emb, n_queries=10, k=5).collect()}
    assert len(approx & exact) / len(exact) >= 0.5


def test_two_level_assign_full_probe_is_exact(spark, sf_dir):
    """Carried r8 task #5: the two-level quantizer with block_probe
    == coarse_k (probe every block) assigns BIT-IDENTICALLY to the
    flat argmax over all n_lists centroids — argmax composes (max
    over blocks of per-block maxes IS the global max), including
    the first-max tie rule (highest dot, then lowest list_id)."""
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir)
    sample_tbl = (emb.orderBy("vec_id").limit(256)
                  .select("embedding").toArrow())
    sample = np.vstack(
        [np.asarray(v, dtype=np.float64)
         for v in sample_tbl.column("embedding").to_pylist()])
    fine = S._kmeans_centroids(sample, 16)
    # flat reference assignment (driver-side, small sf corpus)
    all_rows = emb.select("vec_id", "embedding").orderBy(
        "vec_id").collect()
    X = np.vstack([np.asarray(r.embedding, dtype=np.float64)
                   for r in all_rows])
    flat = {all_rows[i].vec_id: int((X[i] @ fine.T).argmax())
            for i in range(len(all_rows))}
    fine_df, coarse = S.quantizer_from_centroids(spark, fine,
                                                 coarse_k=4)
    got = {r.vec_id: r.list_id
           for r in S.two_level_assign(
               emb, fine_df, coarse,
               block_probe=len(coarse)).collect()}
    assert got == flat


def test_two_level_assign_default_probe_recall(spark, sf_dir):
    """block_probe=1 (the at-scale setting) agrees with the flat
    assignment on the vast majority of vectors — the standard
    inverted-multi-index approximation, bounded here."""
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir)
    sample_tbl = (emb.orderBy("vec_id").limit(256)
                  .select("embedding").toArrow())
    sample = np.vstack(
        [np.asarray(v, dtype=np.float64)
         for v in sample_tbl.column("embedding").to_pylist()])
    fine = S._kmeans_centroids(sample, 16)
    all_rows = emb.select("vec_id", "embedding").orderBy(
        "vec_id").collect()
    X = np.vstack([np.asarray(r.embedding, dtype=np.float64)
                   for r in all_rows])
    flat = {all_rows[i].vec_id: int((X[i] @ fine.T).argmax())
            for i in range(len(all_rows))}
    fine_df, coarse = S.quantizer_from_centroids(spark, fine,
                                                 coarse_k=4)
    rates = {}
    for bp in (1, 2):
        got = {r.vec_id: r.list_id
               for r in S.two_level_assign(
                   emb, fine_df, coarse, block_probe=bp).collect()}
        assert set(got) == set(flat)
        rates[bp] = sum(1 for v, li in got.items()
                        if flat[v] == li) / len(flat)
    # synthetic near-random embeddings are the WORST case for the
    # coarse route (no cluster structure to exploit); still well
    # above chance (1/coarse_k = 0.25) and monotone in block_probe
    assert rates[1] >= 0.6, rates
    assert rates[2] >= 0.8 and rates[2] >= rates[1], rates


def test_ann_index_build_two_level_same_sidecar_and_queryable(
        spark, sf_dir, tmp_path):
    """ann_index_build(assignment="two_level") writes the SAME
    centroid sidecar as the flat build (fine centroids are shared),
    a partitioned layout whose lists cover the corpus exactly once,
    and the query path returns well-formed top-k over it."""
    import json
    import os

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "ivf2l")
    n_lists = S.ann_index_build(emb, idx, n_lists=8,
                                assignment="two_level")
    idx_flat = str(tmp_path / "ivfflat")
    S.ann_index_build(emb, idx_flat, n_lists=8)
    side = json.load(open(os.path.join(idx, "centroids.json")))
    side_flat = json.load(open(os.path.join(idx_flat,
                                            "centroids.json")))
    assert side == side_flat  # bit-identical fine centroids
    written = spark.read.parquet(os.path.join(idx, "lists"))
    assert written.count() == emb.count()
    assert written.select("vec_id").distinct().count() == emb.count()
    q = emb.where(F.col("vec_id") < 3)
    got = S.ann_index_topk(spark, idx, q, k=5,
                           n_probe=n_lists).collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    for qid in (0, 1, 2):
        ranks = sorted(r.rank for r in got if r.query_id == qid)
        assert ranks == [1, 2, 3, 4, 5]


def test_quantizer_from_centroid_df_matches_driver_variant(
        spark, sf_dir):
    """The DataFrame-native quantizer builder (no driver fine
    matrix) groups centroids identically to the driver-side one
    when the coarse sample covers the table — and the two-level
    assignment through it keeps the full-probe exactness
    contract."""
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir)
    tbl = (emb.orderBy("vec_id").limit(256)
           .select("embedding").toArrow())
    sample = np.vstack(
        [np.asarray(v, dtype=np.float64)
         for v in tbl.column("embedding").to_pylist()])
    fine = S._kmeans_centroids(sample, 16)
    fine_df = spark.createDataFrame(
        [(int(i), fine[i].tolist()) for i in range(len(fine))],
        "list_id int, centroid array<double>")
    df_fine, df_coarse = S.quantizer_from_centroid_df(
        fine_df, coarse_k=4)
    drv_fine, drv_coarse = S.quantizer_from_centroids(
        spark, fine, coarse_k=4)
    assert np.allclose(df_coarse, drv_coarse)
    assert ({(r.list_id, r.coarse_id) for r in df_fine.collect()}
            == {(r.list_id, r.coarse_id)
                for r in drv_fine.collect()})
    # full-probe exactness holds through the DF-built structure
    all_rows = emb.select("vec_id", "embedding").orderBy(
        "vec_id").collect()
    X = np.vstack([np.asarray(r.embedding, dtype=np.float64)
                   for r in all_rows])
    flat = {all_rows[i].vec_id: int((X[i] @ fine.T).argmax())
            for i in range(len(all_rows))}
    got = {r.vec_id: r.list_id
           for r in S.two_level_assign(
               emb, df_fine, df_coarse,
               block_probe=len(df_coarse)).collect()}
    assert got == flat


def test_knn_graph_ivf_salted_is_bit_identical(spark, sf_dir):
    """The r10 list-skew valve: salting splits each list's members
    across sub-lists and replicates probers — a physical fan-out
    change only. Output must equal the unsalted build bit-for-bit
    (members partition, per-sub top-k >= k, global merge recovers
    the list top-k), at default probe AND at full probe (where it
    must also equal the exact GEMM graph)."""
    emb = load_table(spark, "embeddings", sf_dir)
    plain = {tuple(r) for r in S.knn_graph_ivf(
        emb, k=5, n_lists=8, n_probe=4).collect()}
    salted = {tuple(r) for r in S.knn_graph_ivf(
        emb, k=5, n_lists=8, n_probe=4, salt=4).collect()}
    assert salted == plain and len(plain) > 0
    exact = {tuple(r) for r in S.knn_graph_gemm(emb, k=5).collect()}
    full_salted = {tuple(r) for r in S.knn_graph_ivf(
        emb, k=5, n_lists=8, n_probe=8, salt=3).collect()}
    assert full_salted == exact


def test_two_level_assign_plan_shape(spark, sf_dir):
    """The 1e9-regime contract IN THE PLAN: assignment is ONE
    cogroup over exactly one hash exchange per side (vectors and
    fine centroids each shuffle once on coarse_id) — no cartesian/
    nested-loop join and no broadcast of the fine-centroid table
    anywhere (broadcasting it is precisely the O(n_lists)-per-task
    shape the operator exists to avoid)."""
    import numpy as np

    from gcp_data_engineering_workshop_spark.functions.vectorfns import (
        mat_from_arrow)

    emb = load_table(spark, "embeddings", sf_dir)
    tbl = (emb.orderBy("vec_id").limit(256)
           .select("embedding").toArrow())
    fine = S._kmeans_centroids(
        mat_from_arrow(tbl.column("embedding")), 16)
    fine_df, coarse = S.quantizer_from_centroids(spark, fine,
                                                 coarse_k=4)
    out = S.two_level_assign(emb, fine_df, coarse, block_probe=1)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]  # AQE prints both
    assert "Cartesian" not in final and "NestedLoop" not in final
    assert "BroadcastExchange" not in final
    assert final.count("FlatMapCoGroups") == 1
    assert final.count("Exchange hashpartitioning") == 2


def test_mat_from_arrow_shapes():
    """Arrow list column -> (rows, dim) float64 matrix, chunked or
    not; an empty column (no dim to infer) is a (0, 0) matrix
    instead of a reshape error."""
    import numpy as np
    import pyarrow as pa

    from gcp_data_engineering_workshop_spark.functions.vectorfns import (
        mat_from_arrow)

    col = pa.chunked_array([pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
                            pa.array([[3.0, 4.0]], pa.list_(pa.float32()))])
    m = mat_from_arrow(col)
    assert m.dtype == np.float64 and m.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    for empty in (pa.array([], pa.list_(pa.float64())),
                  pa.chunked_array([], pa.list_(pa.float64()))):
        e = mat_from_arrow(empty)
        assert e.shape == (0, 0) and e.dtype == np.float64


# ------------------------------------------------------------------ #
# r11: two-level routing through the kNN-graph / IVF-query paths and
# the empty-coarse-block routing guard (ADVICE r11)
# ------------------------------------------------------------------ #


def test_two_level_assign_never_drops_on_empty_coarse_block(spark):
    """ADVICE r11: a vector whose nearest coarse block owns ZERO
    fine centroids must still be assigned (routing restricted to
    owned blocks), not silently vanish from the cogroup."""
    import numpy as np

    # coarse axis 1 ([0,1]) owns no fine centroid; vectors near it
    # used to route there, meet an empty right side, and drop out
    coarse = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]])
    fine_df = spark.createDataFrame(
        [(0, 0, [1.0, 0.1]), (1, 2, [-1.0, 0.1])],
        "list_id int, coarse_id int, centroid array<double>")
    emb = spark.createDataFrame(
        [(0, [0.9, 0.1]), (1, [0.05, 1.0]), (2, [-0.9, 0.2])],
        "vec_id bigint, embedding array<double>")
    got = {r.vec_id: r.list_id
           for r in S.two_level_assign(
               emb, fine_df, coarse, block_probe=1).collect()}
    assert set(got) == {0, 1, 2}  # nobody dropped
    assert got[0] == 0 and got[2] == 1
    # vec 1 routed to an OWNED block (whichever scores higher among
    # 0/2) and got that block's best list
    assert got[1] in (0, 1)


def test_two_level_route_full_probe_matches_flat_ranking(
        spark, sf_dir):
    """two_level_route with block_probe == coarse_k reproduces the
    flat top-n_probe ranking exactly (dot DESC, list_id ASC),
    because coarse blocks partition the fine lists and top-n
    composes over a partition."""
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir).limit(500)
    sample_tbl = (emb.orderBy("vec_id").limit(256)
                  .select("embedding").toArrow())
    sample = np.vstack(
        [np.asarray(v, dtype=np.float64)
         for v in sample_tbl.column("embedding").to_pylist()])
    fine = S._kmeans_centroids(sample, 16)
    fine_df, coarse = S.quantizer_from_centroids(spark, fine,
                                                 coarse_k=4)
    n_probe = 5
    all_rows = emb.select("vec_id", "embedding").collect()
    want = {}
    for r in all_rows:
        d = np.asarray(r.embedding, dtype=np.float64) @ fine.T
        order = sorted(range(len(fine)), key=lambda i: (-d[i], i))
        want[r.vec_id] = order[:n_probe]
    got = {}
    for r in S.two_level_route(emb, fine_df, coarse, n_probe,
                               block_probe=len(coarse)).collect():
        got.setdefault(r.vec_id, {})[r.pos] = r.list_id
    assert {v: [m[p] for p in sorted(m)] for v, m in got.items()} \
        == want


def test_knn_graph_ivf_two_level_full_probe_exact(spark, sf_dir):
    """VERDICT r10 next-round #5: the kNN-graph path through the
    two-level route keeps the n_probe == n_lists edge-equality
    guarantee — identical to knn_graph_gemm, with no task closure
    holding the fine matrix."""
    emb = load_table(spark, "embeddings", sf_dir)
    got = sorted(tuple(r) for r in
                 S.knn_graph_ivf(emb, k=5, n_lists=8, n_probe=8,
                                 assignment="two_level",
                                 block_probe=99).collect())
    want = sorted(tuple(r) for r in
                  S.knn_graph_gemm(emb, k=5).collect())
    assert got == want and len(got) > 0


def test_knn_graph_ivf_two_level_default_probe_recall(spark, sf_dir):
    """The at-scale setting (block_probe=1): every vector still
    gets edges and recall vs the exact graph stays high."""
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.knn_graph_gemm(emb, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in S.knn_graph_ivf(
                  emb, k=5, n_lists=8, n_probe=4,
                  assignment="two_level").collect()}
    n_q = len({q for q, _ in exact})
    assert len({q for q, _ in approx}) == n_q
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ann_ivf_two_level_full_probe_matches_flat(spark, sf_dir):
    """ann_ivf_topk(assignment="two_level") with n_probe == n_lists
    equals the flat path exactly: every list is probed, so the
    member-assignment approximation cannot change the edge set."""
    emb = load_table(spark, "embeddings", sf_dir)
    got = sorted(tuple(r) for r in S.ann_ivf_topk(
        emb, n_queries=10, k=5, n_lists=16, n_probe=16,
        assignment="two_level", block_probe=99).collect())
    want = sorted(tuple(r) for r in S.ann_ivf_topk(
        emb, n_queries=10, k=5, n_lists=16, n_probe=16).collect())
    assert got == want and len(got) > 0


def test_ann_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """r13 (VERDICT r12 #6): ann_index_append routes new vectors
    through the SAVED quantizer into the existing layout — no
    rebuild, no retrain. At n_probe == n_lists the appended index
    answers EQUAL the full-rebuild index's (exact contract); the
    sidecar is byte-identical; old files are untouched; and at
    default probe the appended rows obey the saved routing rule."""
    import json
    import os

    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir)
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf_inc")
    n_lists = S.ann_index_build(half1, idx, n_lists=8)
    side_before = open(os.path.join(idx, "centroids.json")).read()
    files_before = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(idx, "lists"))
        for f in fs if f.endswith(".parquet")}
    n = S.ann_index_append(half2, idx)
    assert n == half2.count()
    # sidecar unchanged, old files untouched
    assert open(os.path.join(idx, "centroids.json")).read() \
        == side_before
    for p, mt in files_before.items():
        assert os.path.getmtime(p) == mt, p
    # exact contract: full probe == brute force over the FULL corpus
    q = emb.where(F.col("vec_id") < 10)
    got = sorted(tuple(r) for r in
                 S.ann_index_topk(spark, idx, q, k=5,
                                  n_probe=n_lists).collect())
    want = sorted(tuple(r) for r in
                  S.ann_topk(emb, n_queries=10, k=5).collect())
    assert got == want and len(got) > 0
    # routing rule: every appended row sits in the list the SAVED
    # centroids assign it (what a rebuild with this quantizer does)
    side = json.loads(side_before)
    cent = np.asarray(side["centroids"], dtype=np.float64)
    rows = (spark.read.parquet(os.path.join(idx, "lists"))
            .where(F.col("vec_id") % 2 == 1).collect())
    assert rows
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        assert int((cent @ v).argmax()) == r.list_id
    # default-probe recall bound over the grown corpus (the C88
    # recall contract carried to the appended index)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.ann_topk(emb, n_queries=10, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in
              S.ann_index_topk(spark, idx, q, k=5,
                               n_probe=3).collect()}
    assert len(exact & approx) / len(exact) >= 0.6
