"""Iterative graph operator: connected components over near-dup
pairs (SURVEY.md §2 C14).

Deduplication at 100 TB ends with grouping: near-dup PAIRS must
become components ("keep one doc per group"). Pair lists are not
groups — transitivity matters (a~b, b~c => {a,b,c}).

Implemented as distributed min-label propagation: every node starts
labeled with itself; each round, every node takes the min label in
its neighborhood; stop when no label changes. Each round is a
shuffle-join + aggregate (fully distributed); the driver only
orchestrates the loop and checks convergence — rounds are bounded by
the graph diameter (log-ish for dedup clusters, which are near-
cliques, typically 2-3 rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import itertools

from gcp_data_engineering_workshop_spark.operators import gate
from gcp_data_engineering_workshop_spark.operators.cachepool import (
    register, release)

# Observation names must be unique across the whole session: two CC
# results composed into ONE downstream plan (e.g. dedup_corpus
# survivors joined with semdedup_trained keepers) would otherwise
# collide on the per-round metric name (DUPLICATED_METRICS_NAME)
_cc_run_ids = itertools.count()


# Edge lists of at most this many edges (~80 MB) run the driver
# kernel below instead of the distributed loop; operators/gate.py
# states the rule. Both regimes reach the same unique fixed point
# (component = min node id), so they produce identical rows.
_CC_LOCAL_EDGE_BOUND = 5_000_000


def _cc_local_labels(edges):
    """The driver path's kernel: min-label propagation with pointer
    jumping over an Arrow edge table (columns a, b) in numpy. Returns
    the (node, label) Arrow table, label = min node id per component
    (the same fixed point the distributed loop reaches)."""
    import numpy as np
    import pyarrow as pa

    a = edges.column("a").to_numpy()
    b = edges.column("b").to_numpy()
    nodes = np.unique(np.concatenate([a, b]))
    ai = np.searchsorted(nodes, a)
    bi = np.searchsorted(nodes, b)
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        old = lab.copy()
        # neighbor min over both edge directions
        np.minimum.at(lab, ai, old[bi])
        np.minimum.at(lab, bi, old[ai])
        # pointer jumping until the pointer forest is flat
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, old):
            break
    return pa.table({"node": pa.array(nodes, pa.int64()),
                     "label": pa.array(nodes[lab], pa.int64())})


def _plan_leaf(df: DataFrame) -> DataFrame:
    """``df`` behind a one-node logical plan: a LogicalRDD over the
    RDD of its physical plan, carrying its statistics (what
    ``localCheckpoint`` builds, minus the checkpointed copy).

    The iterative loop below cuts its lineage every round: with the
    pointer-jump self-join the logical plan references the round's
    frame twice and the previous labels a third time, so uncut it
    grows ~5x per round and Catalyst analysis OOMs the driver within
    a handful of rounds (observed on a 64-node chain). A local
    checkpoint would cut it too, but its blocks are the only copy of
    the data: they stay in the session's persistent RDDs (a cache
    clear does not free them), and a frame read after they are freed
    fails. Over ``df``'s cache the leaf reads the cache; once the
    cache is released it recomputes through the RDD lineage (whose
    materialized shuffles are reused), like any evicted frame."""
    jvm, jdf = df.sparkSession._jvm, df._jdf
    leaf = getattr(getattr(jvm.org.apache.spark.sql.execution,
                           "LogicalRDD$"), "MODULE$").fromDataset(
        jdf.queryExecution().toRdd(), jdf, False)
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        df.sparkSession._jsparkSession, leaf), df.sparkSession)


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 20,
                         stats: dict | None = None) -> DataFrame:
    """Connected components of an undirected edge list.
    Returns (doc_id, component) where component = min node id in the
    component. Checkpoint-free: each iteration's frame is small
    (nodes that appear in any edge).

    Each round fuses neighbor-min propagation with POINTER JUMPING
    (path halving: label <- min(label, label-of-label)), so rounds
    are O(log diameter) instead of O(diameter). Near-clique dedup
    graphs never noticed the difference (diameter 2-3), but
    threshold-pair graphs can be chain-like — the raw-text SemDedup
    corpus produced diameter ~24 paths and plain propagation paid 24
    driver-synchronized rounds of fixed job overhead (measured ~170s
    at sf0.1; 5 rounds after the jump). The jump is one extra
    self-join per round over the tiny label frame — always worth an
    exponential cut in round count. ``stats`` records "rounds" and
    the size gate's "regime", "bound" and "n" (operators/gate.py).

    A SECOND jump per round (label(label(label(label)))) was measured
    and REJECTED: on the sf0.1 capstone it nearly doubled
    text_semdedup (21.2s -> 37.7s median-of-3) because the extra
    self-join + persist + release per round costs more than the
    sub-one round it saves once the first jump has already collapsed
    rounds to ~log2(diameter) — the win would need diameters far
    beyond what threshold-pair graphs produce."""
    from pyspark.sql import Observation

    # persist the PROJECTED edges BEFORE symmetrizing: the union's
    # two branches would otherwise each recompute the (often
    # expensive) upstream pair join — measured as the whole minhash
    # pipeline running twice inside one job. With the cache, the
    # first branch materializes it once and the mirror branch reads
    # the cache.
    e = register(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    # The count materializes the projected-edge cache, which the
    # distributed loop's first round would do anyway, and the local
    # regime's read is a read of that cache. The driver kernel labels
    # int64 ids, so other id types never run local (and are not
    # counted).
    dtypes = dict(e.dtypes)
    bigint = dtypes.get("a") == dtypes.get("b") == "bigint"
    et = gate.driver_table(e, _CC_LOCAL_EDGE_BOUND if bigint else -1,
                           stats, n=e.count() if bigint else None)
    if et is not None:
        labels = _cc_local_labels(et)
        release(e)
        if stats is not None:
            stats["rounds"] = 1
        return (edges.sparkSession.createDataFrame(labels)
                .select(F.col("node").alias("doc_id"),
                        F.col("label").alias("component")))
    sym = register(e.union(e.select(F.col("b").alias("a"),
                                    F.col("a").alias("b"))))
    labels = register(sym.select(F.col("a").alias("node"))
                      .distinct()
                      .withColumn("label", F.col("node")))
    held = labels  # the persisted frame `labels` reads
    run_id = next(_cc_run_ids)
    for i in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        # Fused convergence check: the changed-label count rides the
        # label-update pass as an Observation metric, so each round
        # is ONE job — no second join-the-old-labels action. A label
        # only ever decreases, so "changed" is exactly "some
        # neighbor's min beat my label".
        obs = Observation(f"cc_{run_id}_round_{i}")
        propagated = (
            labels.join(neighbor_min, "node", "left")
            .select("node",
                    F.least(F.col("label"),
                            F.coalesce("nlabel", F.col("label")))
                    .alias("label"))
            # persisted: BOTH sides of the pointer-jump self-join
            # read this frame — unpersisted, the lineage doubles per
            # round and Catalyst planning blows up exponentially
            # (the cache populates inside the round's single job)
            .persist()
        )
        # pointer jump (path halving): label <- min(label,
        # label(label)). label values are node ids, so the jump is a
        # self-join of the propagated frame on label = node; a
        # label's own label is always <= it and in the same
        # component, so the invariant holds and chains collapse
        # exponentially.
        ptr = propagated.select(F.col("node").alias("pnode"),
                                F.col("label").alias("plabel"))
        new_labels = (
            propagated.join(ptr, propagated.label == ptr.pnode, "left")
            .select(propagated.node,
                    F.least(propagated.label,
                            F.coalesce(ptr.plabel, propagated.label))
                    .alias("label"))
        )
        old = labels.select(F.col("node").alias("onode"),
                            F.col("label").alias("olabel"))
        new_labels = (
            new_labels.join(old, new_labels.node == old.onode)
            .select(new_labels.node, new_labels.label,
                    (new_labels.label < old.olabel).cast("long")
                    .alias("_chg"))
            .observe(obs, F.sum("_chg").alias("changed"))
            .select("node", "label")
            .persist()
        )
        new_labels.count()  # materializes the cache AND the metric
        changed = obs.get["changed"] or 0
        release(propagated)
        if stats is not None:
            stats["rounds"] = i + 1
        if i == 0:
            # sym materialized during that count; the projected-edge
            # cache it was built from is dead — release it from the
            # pool eagerly rather than waiting for FIFO eviction
            release(e)
        # the superseded round's labels are never read again — free
        # the executor memory (and its pool slot, for the initial
        # registered frame) instead of accumulating one per round
        release(held)
        held = new_labels
        labels = _plan_leaf(new_labels)
        if changed == 0:
            break
    # the edge caches are dead once the final labels materialized —
    # only the label cache the returned plan reads stays pooled, so
    # a CC run parks exactly ONE frame in the session pool
    release(sym)
    register(held)
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("component"))


def connected_components_sql(edges: DataFrame, max_depth: int = 8,
                             src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """E16: the Spark 4 ``WITH RECURSIVE`` twin of
    connected_components — bounded-depth reachability in one SQL
    statement. Spark's recursive CTEs support UNION ALL only (no
    UNION-distinct fixpoint yet), so cyclic graphs need an explicit
    depth bound: correct for any graph whose component diameter is
    <= max_depth, which near-dup clusters (near-cliques, diameter
    2-3) satisfy with room to spare.

    This exists to exercise the engine surface; the iterative
    DataFrame operator (connected_components) remains the scale
    path — UNION ALL enumerates PATHS, so a dense clique's
    intermediate row count grows with depth where the iterative
    operator's per-round frame stays at |nodes|.
    """
    spark = edges.sparkSession
    edges.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
        .createOrReplaceTempView("cc_edges_in")
    return spark.sql(f"""
      WITH RECURSIVE sym AS (
        SELECT a, b FROM cc_edges_in
        UNION ALL
        SELECT b, a FROM cc_edges_in
      ),
      reach(a, b, depth) AS (
        SELECT a, b, 1 FROM sym
        UNION ALL
        SELECT r.a, e.b, r.depth + 1
        FROM reach r JOIN sym e ON r.b = e.a
        WHERE r.depth < {int(max_depth)}
      )
      SELECT node AS doc_id, least(node, mr) AS component
      FROM (SELECT a AS node, min(b) AS mr FROM reach GROUP BY a)
    """)
