"""Distributed logistic-regression trainer (SURVEY.md §2 C59).

The quality-filter stage of a training-data pipeline (fastText-style
classifier over cheap doc features) as a first-class distributed op:
full-batch gradient descent where each round is ONE map-only Arrow
job emitting per-partition partial gradients — at most (dim+1) flat
scalar rows per task regardless of input size — combined by a tiny
shuffle to exactly dim+1 rows before the driver updates the weights.
The same treeAggregate shape as the k-means M-step
(operators/clustering.py), with the same cross-engine determinism
trick: weights round to a decimal grid after every step, ~10 orders
of magnitude coarser than partial-sum reorder drift, so the whole
fit is bit-identical in any engine that sums in any order — which is
what lets the DuckDB oracle replay the entire descent as unrolled
CTE rounds.

Scale posture: the corpus never shuffles — per round one scan, one
(dim+1)-row exchange, an O(dim) driver update. Scoring is a pure
column expression (JVM sigmoid), zero Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.operators import gate

# logistic_fit runs its rounds over one driver matrix when
# n * (dim + 1) is at most this many scalars; operators/gate.py
# states the rule.
_LOGREG_LOCAL_SCALARS = 8_000_000


def _feature_rows(batches):
    """(X, y) per non-empty Arrow batch (a table works as one batch):
    the float64 feature matrix and the label vector."""
    from gcp_data_engineering_workshop_spark.functions.vectorfns import (
        mat_from_arrow)

    for b in batches:
        if b.num_rows:
            yield (mat_from_arrow(
                       b.column(b.schema.get_field_index("features"))),
                   b.column(b.schema.get_field_index("label"))
                   .to_numpy(zero_copy_only=False))


def _gradient_sums(parts, w: np.ndarray) -> tuple[np.ndarray, int]:
    """One GD round's sums over the (X, y) pairs in ``parts``: the
    (dim+1,) sum of (sigmoid(w.x + b) - y) * [x, 1] and the row
    count. The driver regime passes its one matrix, each distributed
    partial its partition's batches."""
    dim = len(w) - 1
    g = np.zeros(dim + 1)
    n = 0
    for X, y in parts:
        s = 1.0 / (1.0 + np.exp(-(X @ w[:dim] + w[dim])))
        g[:dim] += (s - y) @ X
        g[dim] += (s - y).sum()
        n += len(y)
    return g, n


def logistic_fit(feats: DataFrame, dim: int, n_iter: int = 5,
                 lr: float = 0.5, round_dp: int = 6,
                 stats: dict | None = None) -> np.ndarray:
    """Full-batch GD on sigmoid cross-entropy over ``feats``
    (columns: features array<double> of length ``dim``, label
    double in {0, 1}). Returns the (dim+1,) weight vector, bias
    LAST. Gradient = mean over rows of (sigmoid(w.x + b) - y) * [x, 1];
    weights round to ``round_dp`` decimals after every step.

    DRIVER REGIME (operators/gate.py, the kmeans_fit principle): when
    the feature matrix fits one driver buffer, one Arrow collect
    pulls it and every round runs ``_gradient_sums`` on it; past the
    bound each round's partials run the same kernel per batch. The
    update and its rounding are shared, and the weights are
    identical by the decimal contract above: the ONLY cross-regime
    difference is partial-sum order, and the per-step 1e-6 rounding
    is ~10 orders coarser than reorder drift (the argument that lets
    the DuckDB oracle replay the descent, and that makes the row
    order of the driver table irrelevant). ``stats`` records the
    gate's "regime", "bound" and "n"; "combine_rows" is recorded by
    the distributed regime only (it is the size of a frame the
    driver regime never builds)."""
    w = np.zeros(dim + 1)
    base = feats.select("features", F.col("label").cast("double")
                        .alias("label"))
    tb = gate.driver_table(base, _LOGREG_LOCAL_SCALARS // (dim + 1), stats)
    if tb is not None:
        parts = list(_feature_rows([tb]))

        def round_sums(wv):
            return _gradient_sums(parts, wv)
    else:
        import pyarrow as pa

        def round_sums(wv):
            def partial(batches):
                g, n = _gradient_sums(_feature_rows(batches), wv)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.arange(dim + 1, dtype=np.int32)),
                     pa.array(g, type=pa.float64()),
                     pa.array(np.full(dim + 1, n, dtype=np.int64))],
                    ["dim_idx", "val", "cnt"])

            rows = (base.mapInArrow(
                partial, "dim_idx int, val double, cnt bigint")
                # combine partials in the cluster: one exchange of
                # <= n_parts * (dim+1) tiny rows down to dim+1
                .groupBy("dim_idx")
                .agg(F.sum("val").alias("val"), F.sum("cnt").alias("cnt"))
                .collect())
            if stats is not None:
                stats["combine_rows"] = max(stats.get("combine_rows", 0),
                                            len(rows))
            g = np.zeros(dim + 1)
            n = 0
            for r in rows:
                g[r.dim_idx] = r.val
                n = r.cnt
            return g, n

    for _ in range(n_iter):
        g, n = round_sums(w)
        w = np.round(w - lr * g / max(n, 1), round_dp)
    return w


def logistic_score(feats: DataFrame, w: np.ndarray) -> DataFrame:
    """Score with trained weights as a PURE column expression —
    sigmoid stays JVM-side, no Python in the scoring path. Emits
    (doc_id, score, predicted); score rounds to 6 dp (the
    cross-engine contract for the oracle compare)."""
    dim = len(w) - 1
    z = F.lit(float(w[dim]))
    for i in range(dim):
        z = z + F.element_at("features", i + 1) * float(w[i])
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.select("doc_id", score.alias("score"),
                        (score >= 0.5).alias("predicted"))
