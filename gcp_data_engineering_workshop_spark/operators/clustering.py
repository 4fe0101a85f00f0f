"""Distributed k-means over embedding columns + SemDedup
(SURVEY.md §2 C45-C47).

The reference repo has no clustering stage; these are the
training-data-pipeline ops a 100 TB corpus needs for semantic
curation (SemDedup, Abbas et al. 2023, arXiv:2303.09540: cluster the
embedding space, then deduplicate WITHIN clusters only, so the pair
search never goes all-pairs).

Scale posture:
- The E-step (assignment) is a map-only Arrow-batched pass — the
  k x dim centroid matrix rides the task closure; zero shuffle,
  linear in corpus size.
- The M-step aggregates per-partition partial (sum, count) vectors:
  each task emits at most k * dim flat scalar rows regardless of its
  input size, a shuffle-side groupBy combines them down to exactly
  k * dim rows (one tiny exchange, never the corpus), and ONLY those
  k * dim combined rows reach the driver — so usable k is bounded by
  the exchange (trivial) instead of driver memory, which is what the
  SemDedup k ~ sqrt(n) sizing needs at 100 TB.
- SemDedup's pair search joins on cluster_id, so candidate pairs
  are sum(|cluster|^2) instead of n^2; production sizing keeps
  |cluster| bounded by growing k ~ sqrt(n) (AQE skew-split covers
  stragglers).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.operators import gate

_ASSIGN_SCHEMA = "vec_id bigint, cluster_id int, d2 double"

# kmeans_fit runs its rounds over one driver matrix when n * dim is
# at most this many scalars (64 MB of float64); operators/gate.py
# states the rule, the kmeans_fit docstring the exactness argument.
_KMEANS_LOCAL_SCALARS = 8_000_000


def _d2_matrix(X: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(rows, k) squared-L2 distances via the expansion
    ||x||^2 + ||c||^2 - 2 x.c — one BLAS matmul instead of the
    (rows, k, dim) broadcast temp, which at k=1024/dim=64 would be
    gigabytes per Arrow batch. Clamped at 0: cancellation can dip a
    few 1e-14 negative when x equals a centroid, and the clamp also
    pins the exact-match case to +0.0 (the value the SQL oracle's
    elementwise sum produces)."""
    d2 = (np.einsum("ij,ij->i", X, X)[:, None]
          + np.einsum("ij,ij->i", cent, cent)[None, :]
          - 2.0 * (X @ cent.T))
    return np.maximum(d2, 0.0)


def _embedding_mats(batches):
    """The float64 (rows, dim) matrix of the embedding column of each
    non-empty Arrow batch (a table works as one batch)."""
    from gcp_data_engineering_workshop_spark.functions.vectorfns import (
        mat_from_arrow)

    for b in batches:
        if b.num_rows:
            yield mat_from_arrow(b.column(b.schema.get_field_index("embedding")))


def _lloyd_sums(mats, cent: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One Lloyd round's sums: every row of every matrix in ``mats``
    joins its nearest centroid (unrounded _d2_matrix argmin, first
    minimum on ties). Returns the per-cluster row sums (k, dim) and
    row counts (k,). The driver regime passes its one matrix, each
    distributed partial its partition's batches."""
    k, dim = cent.shape
    s = np.zeros((k, dim)); n = np.zeros(k, dtype=np.int64)
    for X in mats:
        a = _d2_matrix(X, cent).argmin(axis=1)
        n += np.bincount(a, minlength=k)
        np.add.at(s, a, X)
    return s, n


def seed_centroids(emb: DataFrame, k: int) -> np.ndarray:
    """Deterministic init: the k lowest-vec_id vectors, in vec_id
    order (cluster_id = rank in that order). TakeOrderedAndProject —
    a bounded O(k) collect, never a full sort."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    return np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])


def _assign_batches(cent: np.ndarray, keep_embedding: bool):
    """mapInArrow body: argmin squared-L2 over the broadcast centroid
    matrix. d2 is rounded to 6 dp BEFORE the argmin and ties break to
    the lowest cluster_id — the exact deterministic contract the
    DuckDB oracle's (d2, cluster_id) ordering implements. Arrow-native
    (Spark 4): the embedding column converts by offsets-aware flatten
    + reshape instead of a pandas Series of per-row objects — the
    conversion IS the hot loop of this map-only stage, and the
    float64 matrix (hence every d2) is bit-identical either way."""
    import pyarrow as pa
    from gcp_data_engineering_workshop_spark.functions.vectorfns import (
        mat_from_arrow)

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            emb_col = b.column(b.schema.get_field_index("embedding"))
            X = mat_from_arrow(emb_col)
            d2 = np.round(_d2_matrix(X, cent), 6)
            a = d2.argmin(axis=1)  # first (lowest) index on ties
            cols = [b.column(b.schema.get_field_index("vec_id")),
                    pa.array(a.astype(np.int32), type=pa.int32()),
                    pa.array(d2[np.arange(len(a)), a], type=pa.float64())]
            names = ["vec_id", "cluster_id", "d2"]
            if keep_embedding:
                cols.append(emb_col)
                names.append("embedding")
            yield pa.RecordBatch.from_arrays(cols, names)
    return fn


def kmeans_assign(emb: DataFrame, cent: np.ndarray | None = None,
                  k: int = 8, keep_embedding: bool = False,
                  emb_type: str = "array<float>") -> DataFrame:
    """C45: one k-means E-step — map-only nearest-centroid assignment.

    With ``cent=None`` the centroids are the deterministic seed set,
    which is what makes the op exactly oracle-checkable in SQL (the
    oracle re-derives the same k seed vectors and the same
    (d2, cluster_id) argmin). Pass ``kmeans_fit`` centroids for the
    trained variant."""
    if cent is None:
        cent = seed_centroids(emb, k)
    schema = _ASSIGN_SCHEMA + (f", embedding {emb_type}"
                               if keep_embedding else "")
    return (emb.select("vec_id", "embedding")
            .mapInArrow(_assign_batches(cent, keep_embedding), schema))


def kmeans_fit(emb: DataFrame, k: int = 8, n_iter: int = 5,
               round_dp: int = 3, stats: dict | None = None
               ) -> tuple[DataFrame, np.ndarray]:
    """C46: full distributed Lloyd's — n_iter (E-step, M-step)
    rounds, then a final assignment DataFrame.

    Each round: a map-only Arrow E-step emits per-partition partial
    (sum, count) rows — at most k * dim FLAT scalar rows per task
    regardless of input size — and a shuffle-side groupBy combines
    them to exactly k * dim rows before they reach the driver. The
    per-round exchange and collect are both O(k * dim), independent
    of corpus size AND of partition count, so k ~ sqrt(n) SemDedup
    sizing (tens of thousands of clusters at 100 TB) costs megabytes,
    not the n_parts * k * dim driver combine it would otherwise be.

    Centroids round to ``round_dp`` decimals after every M-step: the
    decimal contract that makes the fit reproducible across engines
    (partial sums combine in shuffle order; a 1e-3 grid is ~9 orders
    of magnitude coarser than the ~1e-12 reorder drift, so the
    rounded values are order-independent) — which is what lets the
    DuckDB oracle replay the whole fit with unrolled SQL rounds.
    Empty clusters keep their previous centroid (deterministic).

    The loop EARLY-EXITS when a round leaves the rounded centroid
    grid unchanged: that is a fixed point (same centroids -> same
    assignment -> same M-step -> same rounded centroids), so every
    skipped round would have replayed identically and the oracle's
    full n_iter unroll still matches bit for bit — the exit only
    drops dead driver-synchronized jobs (VERDICT r6 #5a; the decimal
    contract is what makes the equality test exact rather than a
    tolerance heuristic).

    ``stats`` (optional) records "combine_rows", the max combined
    M-step frame ever collected — pytest asserts it is k * dim — and
    "fit_rounds", the number of E/M rounds actually executed.

    DRIVER REGIME (operators/gate.py): when the embedding matrix
    fits one driver buffer (n * dim <= _KMEANS_LOCAL_SCALARS), one
    Arrow collect pulls it and every round runs the same
    ``_lloyd_sums`` kernel on it that the distributed partials run
    per batch; the M-step, its rounding, the early exit and
    "fit_rounds" are shared. The centroids are the same by the
    decimal contract above: the ONLY cross-regime difference is
    float summation order, and order-independence on the 1e-3 grid
    is already what lets the DuckDB oracle (a third summation order)
    replay the fit bit-for-bit. The ~2 driver-synchronized jobs per
    round the driver regime saves are the dominant cost of a
    bench-scale fit, while a 100 TB corpus blows through the bound
    and never collects. ``stats`` also records the gate's "regime",
    "bound" and "n"; "combine_rows" is recorded by the distributed
    regime only (it is the size of a frame the driver regime never
    builds)."""
    cent = seed_centroids(emb, k)
    dim = cent.shape[1]
    base = emb.select("vec_id", "embedding")
    # Row order within the driver table is irrelevant: the rounds
    # consume the multiset (argmin per row, per-cluster means on the
    # 1e-3 grid), the order-independence the decimal contract gives.
    tb = gate.driver_table(base.select("embedding"),
                           _KMEANS_LOCAL_SCALARS // dim, stats)
    if tb is not None:
        mats = list(_embedding_mats([tb]))

        def round_sums(c):
            return _lloyd_sums(mats, c)
    else:
        import pyarrow as pa

        def round_sums(c):
            def partial(batches):
                s, n = _lloyd_sums(_embedding_mats(batches), c)
                # FLAT scalar rows (cluster, dim, val) — no nested
                # Arrow types in the partial frame; bounded at k*dim
                # rows per partition regardless of input size
                nz = np.flatnonzero(n)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.repeat(nz, dim).astype(np.int32)),
                     pa.array(np.tile(np.arange(dim, dtype=np.int32),
                                      len(nz))),
                     pa.array(s[nz].ravel(), type=pa.float64()),
                     pa.array(np.repeat(n[nz], dim), type=pa.int64())],
                    ["cluster_id", "dim_idx", "val", "cnt"])

            rows = (base.mapInArrow(
                partial, "cluster_id int, dim_idx int, val double, cnt bigint")
                # combine the partials in the CLUSTER, not on the
                # driver: one exchange of <= n_parts * k * dim tiny
                # rows down to k * dim — the only rows the driver
                # ever sees
                .groupBy("cluster_id", "dim_idx")
                .agg(F.sum("val").alias("val"), F.sum("cnt").alias("cnt"))
                .collect())
            if stats is not None:
                stats["combine_rows"] = max(stats.get("combine_rows", 0),
                                            len(rows))
            s = np.zeros((k, dim)); n = np.zeros(k, dtype=np.int64)
            for r in rows:
                s[r.cluster_id, r.dim_idx] = r.val
                if r.dim_idx == 0:
                    n[r.cluster_id] = r.cnt
            return s, n

    for it in range(n_iter):
        s, n = round_sums(cent)
        if stats is not None:
            stats["fit_rounds"] = it + 1
        nz = n > 0
        new_cent = cent.copy()
        new_cent[nz] = np.round(s[nz] / n[nz, None], round_dp)
        if np.array_equal(new_cent, cent):
            break  # fixed point on the decimal grid (see docstring)
        cent = new_cent
    return kmeans_assign(emb, cent=cent), cent


def semdedup_incremental(batch: DataFrame, corpus: DataFrame,
                         cent: np.ndarray, tau: float = 0.4) -> DataFrame:
    """C60: incremental SEMANTIC dedup — admit only batch vectors
    with no near-dup already IN the corpus (the C38 daily-ingest
    shape on the embedding modality). Both sides assign against the
    CORPUS-trained centroids (map-only), candidates meet inside a
    cluster_id equi-join (batch x corpus, never batch x batch or
    corpus x corpus), the Arrow einsum verifies, and one anti-join
    keeps the survivors. Returns surviving (vec_id, cluster_id).

    Scale shape: corpus-side work is one E-step scan + its share of
    the cluster join; candidate count is sum over clusters of
    |batch_c| * |corpus_c| — bounded by the SemDedup k ~ sqrt(n)
    sizing exactly like C47."""
    from gcp_data_engineering_workshop_spark.functions.vectorfns import (
        dot_arrow)
    from gcp_data_engineering_workshop_spark.operators.cachepool import (
        register)

    ab = register(kmeans_assign(batch, cent=cent, keep_embedding=True))
    ac = kmeans_assign(corpus, cent=cent, keep_embedding=True)
    pair_dot = dot_arrow()
    dup = (ab.select("cluster_id", F.col("vec_id").alias("vb"),
                     F.col("embedding").alias("eb"))
           .join(ac.select("cluster_id", F.col("embedding").alias("ec")),
                 "cluster_id")
           .where(F.round(pair_dot(F.col("eb"), F.col("ec")), 6) >= tau)
           .select(F.col("vb").alias("vec_id"))
           .distinct())
    return (ab.select("vec_id", "cluster_id")
            .join(dup, "vec_id", "left_anti"))


def semdedup_pairs(emb: DataFrame, k: int = 8, tau: float = 0.4,
                   cent: np.ndarray | None = None,
                   asg: DataFrame | None = None) -> DataFrame:
    """C47: SemDedup — near-dup pairs searched WITHIN k-means
    clusters only (Abbas et al. 2023). Candidate pairs drop from
    n^2 to sum(|cluster|^2); recall vs the exact pair set is
    whatever fraction of true pairs lands in one cluster
    (pytest-bounded; within-cluster results are EXACT, which is what
    the SQL oracle certifies).

    With ``cent=None`` the seed-centroid E-step keeps the whole
    composition oracle-checkable; pass ``kmeans_fit`` centroids for
    the production (trained) variant — same plan shape either way.

    Candidate enumeration is a PER-CLUSTER BLOCKED GEMM
    (applyInArrow), not a cluster_id self-join: the join form
    materializes O(pairs * dim) rows — both 64-dim vectors riding
    every one of the sum(|c|^2) candidate rows, ~1 TB at the 500k-doc
    capstone probe tier, where it ran 45+ min — while the GEMM form
    shuffles only O(n * dim) once (each vector to its cluster's
    task), runs X_blk @ X.T per block (the FAISS inner loop), and
    emits ONLY near-threshold pairs. The dot values are the same
    float64 matrices as the old einsum path (mat_from_arrow), the
    block loop bounds G at ~256 MB, and the AUTHORITATIVE 6-dp
    rounding + tau filter stay on the JVM exactly as before — the
    in-UDF prefilter keeps a (tau - 1e-6) superset, so the output
    is bit-identical to the join form (oracle re-verified)."""
    import pyarrow as pa

    from gcp_data_engineering_workshop_spark.functions.vectorfns import (
        mat_from_arrow)
    from gcp_data_engineering_workshop_spark.operators.cachepool import (
        register)

    if asg is None:
        asg = register(
            kmeans_assign(emb, cent=cent, k=k, keep_embedding=True))

    prefilter = tau - 1e-6

    # NOTE: deliberately un-annotated — PySpark 4.1's hint inference
    # raises on partially-resolvable annotations and (upstream bug)
    # leaves eval_type unbound instead of falling back; bare
    # signatures take the documented default path.
    def gemm_pairs(key, table):
        X = mat_from_arrow(table.column("embedding"))
        ids = table.column("vec_id").to_numpy(zero_copy_only=False)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = X[order]
        n = len(ids)
        blk = max(64, int(3.2e7) // max(n, 1))
        cols: list[list] = [[], [], []]
        for i0 in range(0, n, blk):
            i1 = min(i0 + blk, n)
            G = X[i0:i1] @ X.T
            li, lj = np.nonzero(G >= prefilter)
            gi = li + i0
            keep = gi < lj  # strict upper triangle in sorted-id order
            li, gi, gj = li[keep], gi[keep], lj[keep]
            if len(gi):
                cols[0].append(ids[gi])
                cols[1].append(ids[gj])
                cols[2].append(G[li, gj])
        if cols[0]:
            va = np.concatenate(cols[0])
            vb = np.concatenate(cols[1])
            ds = np.concatenate(cols[2])
        else:
            va = vb = np.empty(0, dtype=np.int64)
            ds = np.empty(0, dtype=np.float64)
        return pa.table({
            "cluster_id": pa.array(
                np.full(len(va), int(key[0].as_py()), dtype=np.int32)),
            "vec_a": pa.array(va.astype(np.int64)),
            "vec_b": pa.array(vb.astype(np.int64)),
            "dot_sim": pa.array(ds, type=pa.float64()),
        })

    raw = (asg.select("cluster_id", "vec_id", "embedding")
           .groupBy("cluster_id")
           .applyInArrow(gemm_pairs,
                         "cluster_id int, vec_a bigint, "
                         "vec_b bigint, dot_sim double"))
    return (raw.select("cluster_id", "vec_a", "vec_b",
                       F.round("dot_sim", 6).alias("dot_sim"))
            .where(F.col("dot_sim") >= tau))
