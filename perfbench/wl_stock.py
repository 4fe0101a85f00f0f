"""Workload ``stock``: the paper's own path.

Stream phase: a seeded 10k-tick slice of the tick feed is staged as
``FEED_FILES`` JSON files in event-time order and drained one file
per trigger by the three queries of
``examples/run_streaming_pipeline.py`` (joined metrics to memory,
stateful spikes to the upsert sink, joined metrics to the txlog
stream sink). Dashboard phase: one closed-loop client cycles the
three dashboard queries over the 100k-event table.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np

from perfbench import datagen
from perfbench.stats import percentile, tail_percentile

EVENTS = 100_000        # the dashboard table (sf0.1 events)
FEED_TICKS = 10_000     # the streamed slice (sf0.01 events)
FEED_FILES = 3
DASH_KEYS = ("dash_overview", "dash_tickers", "dash_detail")


def session_extra() -> dict:
    return {}


def stage(ctx, spark, rep: int) -> dict:
    from gcp_data_engineering_workshop_spark.sources.ticks import ticks

    d = ctx.dir(f"stage{rep}")
    sf_dir = os.path.join(d, "sf")
    datagen.write_tables(sf_dir, ctx.seed, {"events": EVENTS})
    start = int(np.random.default_rng([ctx.seed, 99])
                .integers(0, EVENTS - FEED_TICKS))
    feed = (ticks(spark, sf_dir).orderBy("ts", "ticker")
            .offset(start).limit(FEED_TICKS).toPandas())
    feed_dir = os.path.join(d, "feed")
    os.makedirs(feed_dir)
    feed["ts"] = feed["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
    per = -(-len(feed) // FEED_FILES)
    t0 = time.time() - 10 * FEED_FILES
    for i in range(FEED_FILES):
        part = feed.iloc[i * per:(i + 1) * per]
        path = os.path.join(feed_dir, f"part-{i:05d}.json")
        part.to_json(path, orient="records", lines=True)
        # the file source replays in modification-time order
        os.utime(path, (t0 + i, t0 + i))
    return {"dir": d, "sf_dir": sf_dir, "feed": feed_dir,
            "feed_ticks": len(feed)}


def _drain(ctx, spark, staged) -> dict:
    from gcp_data_engineering_workshop_spark.sources import txlog as T
    from gcp_data_engineering_workshop_spark.streaming import pipeline as spl
    from gcp_data_engineering_workshop_spark.streaming import sinks
    from gcp_data_engineering_workshop_spark.streaming.state import \
        stateful_spike_stream
    from perfbench.trace import ProgressCollector

    d = staged["dir"]
    collector = ProgressCollector(spark)
    # the streams are planned with one shuffle partition: at a few
    # hundred ticks per trigger the session's 32 would make every
    # micro-batch commit 32 near-empty state stores per operator
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        with ctx.measuring():
            t0 = time.perf_counter()
            read = lambda: spl.read_tick_stream(  # noqa: E731
                spark, staged["feed"], max_files_per_trigger=1)
            q1 = sinks.memory_sink(spl.joined_metrics_stream(read()),
                                   "joined")
            q2 = sinks.foreach_batch_upsert(
                stateful_spike_stream(read()), os.path.join(d, "spikes"),
                os.path.join(d, "ckpt_spikes"),
                key_cols=("ticker", "window_start"))
            q3 = (spl.joined_metrics_stream(read()).writeStream
                  .option("checkpointLocation", os.path.join(d, "ckpt_bronze"))
                  .foreachBatch(T.stream_sink(os.path.join(d, "bronze"),
                                              app_id="bronze"))
                  .start())
            qs = (q1, q2, q3)
            for q in qs:
                q.processAllAvailable()
            wall = time.perf_counter() - t0
            for q in qs:
                collector.wait_for(q)
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        collector.close()
    return {"wall": wall, "progress": collector.progress}


def _check_stream(ctx, spark, staged) -> None:
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.operators.anomaly import \
        with_volume_spike
    from gcp_data_engineering_workshop_spark.operators.windows import (
        join_metrics, tumbling_1m, with_sma_5m)
    from gcp_data_engineering_workshop_spark.sources import txlog as T
    from gcp_data_engineering_workshop_spark.streaming.pipeline import \
        TICK_SCHEMA
    from perfbench.oracle import spark_digest

    d = staged["dir"]
    feed = spark.read.schema(TICK_SCHEMA).json(staged["feed"])
    base = tumbling_1m(feed)
    want = {(r.ticker, r.window_end): r
            for r in join_metrics(base, with_sma_5m(base)).collect()}
    got = {(r.ticker, r.window_end): r
           for r in spark.table("joined").collect()}
    # append mode emits a joined window once the watermark (max event
    # time - 10 min) has closed it; later windows stay in state
    wm = feed.agg(F.max("ts")).first()[0] - dt.timedelta(minutes=10)
    closed = {k for k in want if k[1] <= wm - dt.timedelta(minutes=5)}
    bad = [k for k, g in got.items() if k not in want
           or g.total_volume_1m != want[k].total_volume_1m
           or abs(g.sma_5m - want[k].sma_5m) > 1e-9 * max(1, abs(g.sma_5m))]
    ctx.check("stream.joined_metrics", not bad and closed <= set(got),
              f"{len(bad)} wrong rows, {len(closed - set(got))} closed "
              "windows missing")

    batch = with_volume_spike(base).collect()
    last = {}
    for r in batch:
        last[r.ticker] = max(last.get(r.ticker, r.window_start),
                             r.window_start)
    want_sp = {(r.ticker, r.window_start): r for r in batch
               if r.window_start != last[r.ticker]}
    got_sp = {(r.ticker, r.window_start): r for r in
              spark.read.parquet(os.path.join(d, "spikes"))
              .dropDuplicates(["ticker", "window_start"]).collect()}
    bad = [k for k, w in want_sp.items() if k not in got_sp
           or got_sp[k].is_volume_spike != w.is_volume_spike
           or got_sp[k].total_volume_1m != w.total_volume_1m]
    ctx.check("stream.spike_upsert",
              not bad and set(got_sp) == set(want_sp),
              f"{len(bad)} wrong windows")

    bronze = T.read(spark, os.path.join(d, "bronze"))
    ctx.check("stream.txlog_sink",
              spark_digest(bronze) == spark_digest(spark.table("joined")),
              "bronze table differs from the memory sink")


def _dashboard(ctx, spark, staged, cycles: int) -> list[float]:
    import __spark_entry__ as entry_mod
    from perfbench.oracle import digest, oracle_digest

    qs, sqls = entry_mod.queries(), entry_mod.oracle_sql()
    lat: list[float] = []
    checked = set()
    for i in range(cycles * len(DASH_KEYS)):
        key = DASH_KEYS[i % len(DASH_KEYS)]
        with ctx.measuring(), ctx.query(key):
            t0 = time.perf_counter()
            df = qs[key](spark, staged["sf_dir"])
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        if ctx.tracer:
            ctx.tracer.plan_times(key, t1 - t0, t2 - t1)
        lat.append((t2 - t0) * 1000.0)
        if key not in checked:
            checked.add(key)
            want = oracle_digest(staged["sf_dir"], sqls[key])
            ctx.check(key, digest(df.columns, rows) == want,
                      "differs from the DuckDB oracle")
    return lat


def run(ctx, spark, staged) -> None:
    from perfbench.trace import summarize_progress

    drain = _drain(ctx, spark, staged)
    _check_stream(ctx, spark, staged)
    batches = [p["triggerExecution"] for p in drain["progress"]]
    ctx.check("stream.batches", len(batches) >= 3 * FEED_FILES,
              f"only {len(batches)} micro-batches")
    dash = _dashboard(ctx, spark, staged, max(2, round(ctx.seconds / 4)))

    ctx.metric("stream_ticks_per_s", staged["feed_ticks"] / drain["wall"], "1/s")
    ctx.metric("stream_batch_p50_ms", percentile(batches, 50), "ms")
    ctx.metric("stream_batch_p90_ms", percentile(batches, 90), "ms")
    ctx.metric("dash_query_p50_ms", percentile(dash, 50), "ms")
    # the p90 above has fewer than ten samples beyond it at this run
    # size; the tail these sample counts can resolve is recorded here
    ctx.notes["stream_batches"] = len(batches)
    ctx.notes["stream_batch_tail"] = tail_percentile(batches)
    ctx.notes["dash_queries"] = len(dash)
    ctx.notes["stream_drain_s"] = drain["wall"]
    ctx.metric("work_s", drain["wall"] + sum(dash) / 1000.0, "s")
    if ctx.tracer:
        ctx.tracer.layer.update(summarize_progress(drain["progress"]))
