"""The one size gate between an operator's driver-local regime and
its distributed one.

Five operators finish in the driver when their input is small:
connected components (``graph._CC_LOCAL_EDGE_BOUND`` edges),
PageRank over the kNN graph (``textpipeline._PR_LOCAL_EDGE_BOUND``
edges), the k-means and logistic fits
(``clustering._KMEANS_LOCAL_SCALARS`` and
``classifier._LOGREG_LOCAL_SCALARS`` scalars, divided by the row
width) and deletion-vector marking (``txlog._DV_LOCAL_POSITIONS``
positions). The principle is spark.sql.autoBroadcastJoinThreshold's:
an input that fits one driver buffer is read once and the rounds run
in numpy instead of paying a few driver-synchronized jobs per round;
past the bound the distributed regime runs unchanged. Each operator's
local regime produces exactly its distributed rows (the operator
docstrings say why), so the bound only moves cost, never results.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame


def driver_table(df: DataFrame, bound: int, stats: dict | None = None,
                 n: int | None = None) -> pa.Table | None:
    """``df`` as one Arrow table when it has at most ``bound`` rows,
    else None: the caller then runs its distributed regime.

    ``n`` is the exact row count the bound applies to, when the
    caller already holds it (a count it takes anyway, or arithmetic
    on one); the decision is then free and only the local regime
    reads ``df``. Without ``n``, one ``limit(bound + 1)`` collect
    both decides and delivers: past the bound CollectLimit stops
    after bound + 1 rows instead of reading the whole input. A bound
    of 0 keeps only empty input local; a negative bound never runs
    local and reads nothing.

    ``stats`` (optional) records the choice: "regime" ("local" or
    "distributed"), "bound", and "n" whenever the row count is known
    (given, or counted by the probe)."""
    tb = None
    if n is not None:
        if n <= bound:
            tb = df.toArrow()
    elif bound >= 0:
        probe = df.limit(bound + 1).toArrow()
        if probe.num_rows <= bound:
            tb, n = probe, probe.num_rows
    if stats is not None:
        stats["regime"] = "distributed" if tb is None else "local"
        stats["bound"] = bound
        if n is not None:
            stats["n"] = n
    return tb
