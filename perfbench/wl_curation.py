"""Workload ``curation``: one pass over five oracle-checked curation
keys, each built through ``__spark_entry__.queries()`` and sent to the
noop sink.

The corpus is fixed (the seed only orders the pass), so the DuckDB
oracle digests are computed once per checkout and cached. A first,
untimed pass collects every key and checks it against its oracle; it
also lets each operator's lazy set-up (worker imports, codegen) finish
before the timed pass, which would otherwise charge it to whichever
key the seed puts first.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import datagen

KEYS = ("dedup_keep_best", "pagerank_knn", "kmeans_embeddings",
        "quality_classifier", "corpus_report")
DOCS = 500
EMBEDDINGS = 500
CORPUS_SEED = 20240101


def session_extra() -> dict:
    return {}


def stage(ctx, spark, rep: int) -> dict:
    sf_dir = ctx.dir(f"stage{rep}", "sf")
    datagen.write_tables(sf_dir, CORPUS_SEED,
                         {"documents": DOCS, "embeddings": EMBEDDINGS})
    order = list(np.random.default_rng(ctx.seed).permutation(len(KEYS)))
    return {"sf_dir": sf_dir, "order": [KEYS[i] for i in order]}


def _one(ctx, spark, qs, key: str, sf_dir: str, collect: bool):
    with ctx.query(key):
        t0 = time.perf_counter()
        df = qs[key](spark, sf_dir)
        t1 = time.perf_counter()
        if collect:
            rows = df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    # operators may persist() intermediates; each key starts clean
    spark.catalog.clearCache()
    if ctx.tracer and not collect:
        ctx.tracer.plan_times(key, t1 - t0, t2 - t1)
    return t2 - t0, (df.columns, rows) if collect else None


def run(ctx, spark, staged) -> None:
    import __spark_entry__ as entry_mod
    from perfbench.oracle import digest, oracle_digest

    qs, sqls = entry_mod.queries(), entry_mod.oracle_sql()
    sf_dir = staged["sf_dir"]
    for key in staged["order"]:
        _, out = _one(ctx, spark, qs, key, sf_dir, collect=True)
        ctx.check(key, digest(*out) == oracle_digest(sf_dir, sqls[key]),
                  "differs from the DuckDB oracle")
    per_key: dict[str, float] = {}
    with ctx.measuring():
        for key in staged["order"]:
            per_key[key], _ = _one(ctx, spark, qs, key, sf_dir, collect=False)
    ctx.metric("curation_pass_s", sum(per_key.values()), "s")
    ctx.metric("work_s", sum(per_key.values()), "s")
    ctx.metric("curation_key_p50_ms",
               float(np.median(list(per_key.values()))) * 1000, "ms")
    ctx.notes["curation_key_s"] = per_key
