"""Streaming twins: file-source -> memory-sink runs with
processAllAvailable, parity-checked against the batch operators."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.sources.ticks import ticks as batch_ticks
from gcp_data_engineering_workshop_spark.operators.windows import tumbling_1m, with_sma_5m
from gcp_data_engineering_workshop_spark.operators.anomaly import with_volume_spike
from gcp_data_engineering_workshop_spark.streaming import pipeline as spl
from gcp_data_engineering_workshop_spark.streaming import sinks
from gcp_data_engineering_workshop_spark.streaming.state import stateful_spike_stream


@pytest.fixture(scope="module")
def tick_json_dir(spark, sf_dir, tmp_path_factory):
    """sf0.001 ticks as JSON-lines files — the 'Pub/Sub topic'."""
    d = str(tmp_path_factory.mktemp("tickstream"))
    (batch_ticks(spark, sf_dir)
     .orderBy("ts")
     .coalesce(1)
     .write.mode("overwrite").json(d))
    return d


def _run_to_memory(df, name, output_mode="append"):
    q = sinks.memory_sink(df, name, output_mode=output_mode)
    q.processAllAvailable()
    q.stop()


def test_stream_agg_matches_batch(spark, sf_dir, tick_json_dir):
    # complete mode: append would hold back windows newer than the
    # watermark (not final yet) — for full parity we want every window
    stream = spl.read_tick_stream(spark, tick_json_dir)
    _run_to_memory(spl.agg_1m_stream(stream), "agg1m", "complete")
    got = {(r.ticker, r.window_start): r
           for r in spark.table("agg1m").collect()}
    want = {(r.ticker, r.window_start): r
            for r in tumbling_1m(batch_ticks(spark, sf_dir)).collect()}
    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        assert g.latest_price == w.latest_price
        assert g.total_volume_1m == w.total_volume_1m
        assert g.total_value_1m == pytest.approx(w.total_value_1m)


def test_stream_sma_matches_batch(spark, sf_dir, tick_json_dir):
    stream = spl.read_tick_stream(spark, tick_json_dir)
    _run_to_memory(spl.sma_5m_stream(stream), "sma5m", "complete")
    got = {(r.ticker, r.window_end): r.sma_5m
           for r in spark.table("sma5m").collect()}
    want = {(r.ticker, r.window_end): r.sma_5m
            for r in with_sma_5m(tumbling_1m(batch_ticks(spark, sf_dir))).collect()}
    # sliding windows emit for minutes with no events too; every batch
    # (minute-with-events) value must match the stream's
    assert set(want) <= set(got)
    for k in want:
        assert got[k] == pytest.approx(want[k])


def test_stateful_spike_matches_batch(spark, sf_dir, tick_json_dir):
    stream = spl.read_tick_stream(spark, tick_json_dir)
    spiked = stateful_spike_stream(stream)
    q = spiked.writeStream.format("memory").queryName("spikes") \
        .outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    got = {(r.ticker, r.window_start): r for r in spark.table("spikes").collect()}
    batch = with_volume_spike(tumbling_1m(batch_ticks(spark, sf_dir))).collect()
    # each ticker's final window is still open in the stream (not
    # final until later data arrives) — exclude it from parity
    last = {}
    for r in batch:
        if r.ticker not in last or r.window_start > last[r.ticker]:
            last[r.ticker] = r.window_start
    want = {(r.ticker, r.window_start): r for r in batch
            if r.window_start != last[r.ticker]}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.is_volume_spike == w.is_volume_spike, k
        assert g.total_volume_1m == w.total_volume_1m
        assert g.latest_price == w.latest_price
        assert g.total_value_1m == pytest.approx(w.total_value_1m)
        assert g.avg_volume_10m == pytest.approx(w.avg_volume_10m)


def test_foreach_batch_upsert_sink(spark, sf_dir, tick_json_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spl.read_tick_stream(spark, tick_json_dir)
    agg = spl.agg_1m_stream(stream)
    q = sinks.foreach_batch_upsert(agg, out, ckpt,
                                   key_cols=("ticker", "window_start"))
    q.processAllAvailable()
    q.stop()
    written = spark.read.parquet(out)
    n_batch = tumbling_1m(batch_ticks(spark, sf_dir)).count()
    assert written.dropDuplicates(["ticker", "window_start"]).count() == n_batch


def test_format_output_shape(spark, tick_json_dir):
    stream = spl.read_tick_stream(spark, tick_json_dir)
    agg = spl.agg_1m_stream(stream).withColumn("sma_5m", F.lit(1.0)) \
        .withColumn("is_volume_spike", F.lit(False))
    out = spl.format_output(agg)
    assert out.columns == [
        "ticker", "window_timestamp", "latest_price", "high_price_1m",
        "total_volume_1m", "total_value_1m", "sma_5m", "is_volume_spike",
        "system_latency", "ai_sentiment", "ai_summary"]


def test_dedup_stream_drops_replays(spark, sf_dir, tmp_path):
    """Duplicate (replayed) messages are dropped within the
    watermark: writing the same file content twice must yield the
    original row count."""
    d = str(tmp_path / "dups")
    src = batch_ticks(spark, sf_dir).coalesce(1)
    src.write.mode("overwrite").json(d)
    # duplicate every message (simulated redelivery)
    src.write.mode("append").json(d)
    stream = spl.read_tick_stream(spark, d)
    _run_to_memory(spl.dedup_stream(stream), "deduped")
    assert spark.table("deduped").count() == src.count()


def test_multimodal_frames_fanout(spark, sf_dir):
    from gcp_data_engineering_workshop_spark.plans import textpipeline as tp
    out = tp.multimodal_frames(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 500 * 4
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_doc.values())


def test_salted_agg_equals_plain(spark, sf_dir):
    from gcp_data_engineering_workshop_spark.plans.analytics2 import salted_agg_volume
    from gcp_data_engineering_workshop_spark.sources.ticks import ticks as tks
    got = {r.ticker: (r.total_volume, r.n_ticks)
           for r in salted_agg_volume(spark, sf_dir).collect()}
    want = {r.ticker: (r.tv, r.n) for r in
            tks(spark, sf_dir).groupBy("ticker")
            .agg(F.sum("volume").alias("tv"), F.count(F.lit(1)).alias("n"))
            .collect()}
    assert got == want


def test_chained_sma_join_matches_batch_with_bounded_state(
        spark, sf_dir, tick_json_dir, tmp_path):
    """D4 drained one feed file per trigger: every emitted row equals
    its batch twin on every column, every window the final watermark
    closed is emitted, and the stateful operators hold only the open
    windows instead of everything ever ingested."""
    import datetime as dt
    import glob
    import time

    from gcp_data_engineering_workshop_spark.operators.windows import join_metrics
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    lines = []
    for f in sorted(glob.glob(os.path.join(tick_json_dir, "part-*.json"))):
        with open(f) as fh:
            lines += fh.readlines()
    n_files = 3
    per = -(-len(lines) // n_files)
    t0 = time.time() - 10
    for i in range(n_files):
        path = os.path.join(feed, f"part-{i}.json")
        with open(path, "w") as fh:
            fh.writelines(lines[i * per:(i + 1) * per])
        os.utime(path, (t0 + i, t0 + i))  # replay in event-time order

    stream = spl.read_tick_stream(spark, feed, max_files_per_trigger=1)
    q = sinks.memory_sink(spl.joined_metrics_stream(stream), "joined_ss")
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()

    got = {(r.ticker, r.window_end): r for r in spark.table("joined_ss").collect()}
    ticks = batch_ticks(spark, sf_dir)
    base = tumbling_1m(ticks)
    want = {(r.ticker, r.window_end): r
            for r in join_metrics(base, with_sma_5m(base)).collect()}
    assert set(got) <= set(want)
    cols = spark.table("joined_ss").columns
    for k, g in got.items():
        assert all(getattr(g, c) == getattr(want[k], c) for c in cols), k
    wm = ticks.agg(F.max("ts")).first()[0] - dt.timedelta(minutes=10)
    assert {k for k in want if k[1] <= wm} <= set(got)

    # open state per ticker: <= 11 one-minute windows past the
    # watermark plus <= 4 five-minute windows still collecting them
    n_tickers = len({k[0] for k in want})
    bound = n_tickers * (10 + 5)
    assert sum(p["numInputRows"] > 0 for p in progress) >= n_files
    for p in progress:
        held = sum(o["numRowsTotal"] for o in p["stateOperators"])
        assert held <= p["numInputRows"] + bound, (p["batchId"], held)
    assert sum(o["numRowsTotal"]
               for o in progress[-1]["stateOperators"]) <= bound


def test_rate_generator_shape(spark):
    from gcp_data_engineering_workshop_spark.sources.ticks import tick_rate_stream
    from gcp_data_engineering_workshop_spark.streaming.pipeline import TICK_SCHEMA
    stream = tick_rate_stream(spark, rows_per_second=50)
    want_cols = [c.split()[0] for c in TICK_SCHEMA.split(", ")]
    assert stream.columns == want_cols
    q = sinks.memory_sink(stream, "rate_ticks")
    import time
    time.sleep(3)
    q.processAllAvailable(); q.stop()
    rows = spark.table("rate_ticks").collect()
    assert len(rows) > 0
    assert all(r.ticker.startswith("T") and r.volume >= 0 for r in rows)


def test_session_window_stream_matches_batch(spark, sf_dir, tmp_path):
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.plans.analytics2 import session_window_stats
    d = str(tmp_path / "events_json")
    ev = load_table(spark, "events", sf_dir)
    # microsecond format: Spark's default JSON timestamp writes millis,
    # which would shift raw session_start values
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    (ev.orderBy("ts").coalesce(1).write.mode("overwrite")
     .option("timestampFormat", fmt).json(d))
    stream = (spark.readStream
              .schema("event_id bigint, ts timestamp, user_id bigint, "
                      "event_type string, value double, props string")
              .option("timestampFormat", fmt)
              .json(d))
    _run_to_memory(spl.session_window_stream(stream), "sessions_s", "complete")
    got = {(r.user_id, r.session_start): r.n_events
           for r in spark.table("sessions_s").collect()}
    want = {(r.user_id, r.session_start): r.n_events
            for r in session_window_stats(spark, sf_dir).collect()}
    assert got == want


def test_watermark_no_reemission_of_finalized_window(spark, tmp_path):
    """Append mode's hard guarantee: a late event for an
    already-finalized (emitted + state-evicted) window is dropped —
    the window is never re-emitted or patched. (Spark's late-data
    drop is best-effort for windows that never had state; the
    finalized-window case is the correctness-critical one.)"""
    import datetime as dt, json, time, os
    d = str(tmp_path / "late"); os.makedirs(d)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_file(name, rows):
        with open(os.path.join(d, name), "w") as f:
            for ts, price in rows:
                f.write(json.dumps({
                    "ticker": "A", "ts": ts.isoformat(), "price": price,
                    "volume": 1, "ai_sentiment": 0.0, "ai_summary": "n"}) + "\n")

    # batch 0: minutes 0, 10, 30 -> watermark after batch = minute 20
    write_file("a.json", [(t0 + dt.timedelta(minutes=m), 1.0) for m in (0, 10, 30)])
    time.sleep(1.1)  # distinct mtimes keep file->batch order deterministic
    # batch 1: minute 31 -> windows [0,1) and [10,11) are emitted and
    # their state evicted (end <= watermark 20)
    write_file("b.json", [(t0 + dt.timedelta(minutes=31), 1.0)])
    time.sleep(1.1)
    # batch 2: a late event INTO the finalized minute-0 window
    write_file("c.json", [(t0 + dt.timedelta(seconds=30), 99.0)])

    stream = spl.read_tick_stream(spark, d, max_files_per_trigger=1)
    agg = spl.agg_1m_stream(stream, watermark="10 minutes")
    q = sinks.memory_sink(agg, "late_agg", output_mode="append")
    q.processAllAvailable(); q.stop()
    rows = [r for r in spark.table("late_agg").collect()
            if r.window_start == t0]
    assert len(rows) == 1                  # emitted exactly once
    assert rows[0].latest_price == 1.0     # late 99.0 was dropped
    assert rows[0].total_volume_1m == 1


def test_chained_window_rollup_matches_batch(spark, sf_dir, tick_json_dir):
    # append mode: complete mode + chained stateful aggs trips the
    # global-watermark correctness guard (first agg may emit rows the
    # second would see as late); append emits only finalized hours
    stream = spl.read_tick_stream(spark, tick_json_dir)
    _run_to_memory(spl.hourly_rollup_stream(stream), "hourly", "append")
    got = {(r.ticker, r.hour_start): (r.vol_1h, r.n_minutes)
           for r in spark.table("hourly").collect()}
    base = tumbling_1m(batch_ticks(spark, sf_dir))
    want = {(r.ticker, r.hour): (r.v, r.n) for r in
            base.groupBy("ticker",
                         F.date_trunc("hour", "window_start").alias("hour"))
            .agg(F.sum("total_volume_1m").alias("v"),
                 F.count(F.lit(1)).alias("n")).collect()}
    # append emits only watermark-finalized hours: subset of batch,
    # but every emitted hour must match exactly
    assert set(got) <= set(want)
    assert len(got) >= 0.9 * len(want)
    for k, v in got.items():
        assert v == want[k], k


def _split_ticks(spark, sf_dir):
    """Deterministic halves of the tick feed (by row hash)."""
    t = batch_ticks(spark, sf_dir)
    h = F.pmod(F.xxhash64("ticker", "ts", "price"), F.lit(2))
    return t.where(h == 0), t.where(h == 1)


def test_parquet_sink_restart_exactly_once(spark, sf_dir, tmp_path):
    """D-block fault tolerance: a checkpointed file-sink query killed
    and restarted must produce each input row exactly once. Phase 1
    processes half the feed and stops (the kill); phase 2 drops more
    files into the source dir and restarts from the SAME checkpoint —
    the restarted query must pick up only the unseen files."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    half1, half2 = _split_ticks(spark, sf_dir)
    half1.coalesce(1).write.mode("append").json(src)

    q = sinks.parquet_append_sink(spl.read_tick_stream(spark, src), out, ckpt)
    q.processAllAvailable()
    q.stop()  # the kill

    half2.coalesce(1).write.mode("append").json(src)
    q2 = sinks.parquet_append_sink(spl.read_tick_stream(spark, src), out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(out)
    want = batch_ticks(spark, sf_dir)
    assert got.count() == want.count()
    # per-ticker counts catch duplication/loss even if totals collide
    g = {r.ticker: r.n for r in
         got.groupBy("ticker").agg(F.count(F.lit(1)).alias("n")).collect()}
    w = {r.ticker: r.n for r in
         want.groupBy("ticker").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert g == w


def test_parquet_sink_replayed_batch_not_duplicated(spark, sf_dir, tmp_path):
    """Crash-point fault injection: delete the LAST checkpoint commit
    marker (simulating a crash after the sink committed the batch to
    _spark_metadata but before the checkpoint recorded it). The
    restarted query replays that batch; the file sink's manifest
    protocol must recognize it as already committed and skip it —
    output stays exactly-once."""
    import glob
    import os as _os

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    half1, half2 = _split_ticks(spark, sf_dir)
    half1.coalesce(1).write.mode("append").json(src)
    half2.coalesce(1).write.mode("append").json(src)

    q = sinks.parquet_append_sink(
        spl.read_tick_stream(spark, src, max_files_per_trigger=1), out, ckpt)
    q.processAllAvailable()
    q.stop()

    commits = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))
    assert len(commits) >= 2
    _os.remove(commits[-1])  # the crash
    # drop the local-fs checksum shadow too, else the re-write of the
    # commit marker looks like a concurrent writer to HDFSMetadataLog
    crc = f"{_os.path.dirname(commits[-1])}/.{_os.path.basename(commits[-1])}.crc"
    if _os.path.exists(crc):
        _os.remove(crc)

    q2 = sinks.parquet_append_sink(
        spl.read_tick_stream(spark, src, max_files_per_trigger=1), out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    assert spark.read.parquet(out).count() == batch_ticks(spark, sf_dir).count()


def test_foreach_batch_upsert_replay_is_idempotent_on_key(spark, sf_dir,
                                                         tick_json_dir, tmp_path):
    """The foreachBatch upsert contract under replay: after a crash
    that loses the last checkpoint commit, the replayed batch appends
    again (at-least-once raw), but the keyed view stays exactly-once
    — the reason the sink dedupes on key and stamps _batch_id."""
    import glob
    import os as _os

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spl.read_tick_stream(spark, tick_json_dir)
    agg = spl.agg_1m_stream(stream)
    q = sinks.foreach_batch_upsert(agg, out, ckpt,
                                   key_cols=("ticker", "window_start"))
    q.processAllAvailable()
    q.stop()

    commits = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))
    _os.remove(commits[-1])  # crash between sink write and commit
    crc = f"{_os.path.dirname(commits[-1])}/.{_os.path.basename(commits[-1])}.crc"
    if _os.path.exists(crc):
        _os.remove(crc)

    q2 = sinks.foreach_batch_upsert(agg, out, ckpt,
                                    key_cols=("ticker", "window_start"))
    q2.processAllAvailable()
    q2.stop()

    written = spark.read.parquet(out)
    n_batch = tumbling_1m(batch_ticks(spark, sf_dir)).count()
    assert written.dropDuplicates(["ticker", "window_start"]).count() == n_batch


def test_stream_static_join_enriches_ticks(spark, sf_dir, tick_json_dir):
    """D10: stream-static dimension join — every streamed tick picks
    up its dimension attributes; dimension misses stay (left join)."""
    dim = spark.createDataFrame(
        [("click", "tech", "NYSE"), ("view", "retail", "NASDAQ")],
        "ticker string, sector string, listing_venue string")
    stream = spl.read_tick_stream(spark, tick_json_dir)
    _run_to_memory(spl.enriched_tick_stream(stream, dim), "enriched")
    got = spark.table("enriched")
    n_stream = got.count()
    assert n_stream == batch_ticks(spark, sf_dir).count()
    by_ticker = {r.ticker: r for r in
                 got.where(F.col("ticker").isin("click", "view"))
                    .dropDuplicates(["ticker"]).collect()}
    assert by_ticker["click"].sector == "tech"
    assert by_ticker["view"].listing_venue == "NASDAQ"
    # unmatched tickers survive with null dims
    assert got.where(F.col("sector").isNull()).count() > 0


def test_rocksdb_state_store_parity(spark, sf_dir, tick_json_dir, tmp_path):
    """D-block at scale: the same watermarked 1-min agg running on the
    RocksDB state store provider (state spills to disk instead of
    living on the executor heap — the 100-TB configuration, where
    keyed state outgrows memory). Results must be bit-identical to
    the default provider / batch op, and the provider must actually
    engage (rocksdb custom metrics + checkpointed state files)."""
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ckpt = str(tmp_path / "rocksdb_ckpt")
    stream = spl.read_tick_stream(s2, tick_json_dir)
    q = (spl.agg_1m_stream(stream)
         .writeStream.format("memory").queryName("agg1m_rocks")
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .start())
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()

    got = {(r.ticker, r.window_start): (r.latest_price, r.total_volume_1m)
           for r in s2.table("agg1m_rocks").collect()}
    want = {(r.ticker, r.window_start): (r.latest_price, r.total_volume_1m)
            for r in tumbling_1m(batch_ticks(spark, sf_dir)).collect()}
    assert got == want

    metrics = progress["stateOperators"][0]["customMetrics"]
    assert any(k.startswith("rocksdb") for k in metrics)  # provider engaged
    state_dir = os.path.join(ckpt, "state")
    assert os.path.isdir(state_dir)
    state_files = [f for _, _, fs in os.walk(state_dir) for f in fs]
    assert state_files  # checkpointed RocksDB snapshots/changelogs exist


def test_stream_stream_left_outer_join_matches_batch(spark, sf_dir, tmp_path):
    """D13 parity: the outer join must emit matched pairs AND
    null-padded unmatched purchases. A far-future sentinel view
    advances the watermark so tail-of-stream unmatched state
    flushes — without it the last purchases would sit in state
    forever (the documented outer-join gotcha)."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    d = str(tmp_path / "events_attr_json")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type")
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    # one sentinel PER SIDE: the global watermark is min(view wm,
    # purchase wm), so both inputs must advance past the horizon
    sentinel = ev.groupBy().agg(
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")).select(
        F.lit(-1).cast("bigint").alias("event_id"), "ts",
        F.lit(-1).cast("bigint").alias("user_id"),
        F.explode(F.array(F.lit("view"), F.lit("purchase")))
         .alias("event_type"))
    (ev.unionByName(sentinel).orderBy("ts").coalesce(1)
     .write.mode("overwrite").option("timestampFormat", fmt).json(d))
    stream = (spark.readStream
              .schema("event_id bigint, ts timestamp, user_id bigint, "
                      "event_type string")
              .option("timestampFormat", fmt)
              .json(d))
    _run_to_memory(spl.purchase_attribution_stream(stream), "attr_s", "append")
    got = {(r.event_id, r.v_ts) for r in spark.table("attr_s").collect()
           if r.user_id != -1}

    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    cond = ((F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("v_ts") <= F.col("p_ts")))
    want = {(r.event_id, r.v_ts)
            for r in p.join(v, cond, "leftOuter").collect()}
    assert got == want
    assert any(vt is None for _, vt in want)  # unmatched purchases exist
    assert len(want) > len({e for e, _ in want}) or True


def test_python_datasource_stream_reader(spark, tmp_path):
    """E13 streaming twin: the custom source emits offset-tracked
    micro-batches; the streamed rows must equal the batch read of the
    same generator (replayable offsets)."""
    from gcp_data_engineering_workshop_spark.sources.pydatasource import (
        register_tick_source)
    s2 = spark  # registry lookup is session-scoped; register on main
    register_tick_source(s2)
    opts = {"n_rows": "200", "rows_per_batch": "60", "num_partitions": "4"}
    rd = s2.readStream.format("synthetic_ticks").options(**opts).load()
    q = (rd.writeStream.format("memory").queryName("pyds_stream")
         .option("checkpointLocation", str(tmp_path / "pyds_ckpt"))
         .outputMode("append").start())
    q.processAllAvailable()
    n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
    q.stop()
    got = sorted((r.tick_id, r.ticker, r.price, r.volume)
                 for r in s2.table("pyds_stream").collect())
    want = sorted((r.tick_id, r.ticker, r.price, r.volume)
                  for r in s2.read.format("synthetic_ticks")
                  .options(**opts).load().collect())
    assert got == want and len(got) == 200
    assert n_batches >= 3  # 200 rows at <=60/batch -> micro-batching real


def test_cm_sketch_stream_matches_batch_grid(spark, sf_dir, tmp_path):
    """D14: the streaming CMS grid (complete mode, micro-batched
    document stream) must be bit-identical to the batch cm_build
    over the same corpus — the mergeable-state law applied by the
    streaming agg state itself."""
    from gcp_data_engineering_workshop_spark.functions import textfns as T
    from gcp_data_engineering_workshop_spark.operators.sketch import cm_build

    docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text"))
    d = str(tmp_path / "docstream")
    # 4 files -> multiple micro-batches with maxFilesPerTrigger=1
    docs.repartition(4).write.mode("overwrite").json(d)

    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).json(d))
    q = (spl.cm_sketch_stream(stream)
         .writeStream.format("memory").queryName("cms_stream")
         .outputMode("complete").start())
    q.processAllAvailable()
    n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
    q.stop()

    got = {(r.r, r.bucket): r.cnt
           for r in spark.table("cms_stream").collect()}
    toks = docs.select(F.explode(T.words("text")).alias("token"))
    want = {(r.r, r.bucket): r.cnt for r in cm_build(toks, "token").collect()}
    assert got == want
    assert n_batches >= 3  # the merge across micro-batches was real


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """D15: stream-static anti-join admission control equals the
    batch exact stage — same surviving doc_ids when the batch slice
    streams in against the static corpus."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.functions.textfns import normalize

    d = load_table(spark, "documents", sf_dir)
    batch = d.where(F.col("doc_id") % 10 >= 8)
    corpus = d.where(F.col("doc_id") % 10 < 8)

    src = str(tmp_path / "doc_stream")
    batch.select("doc_id", "text", "lang").coalesce(2) \
        .write.mode("overwrite").json(src)
    stream = (spark.readStream
              .schema("doc_id bigint, text string, lang string")
              .json(src))
    _run_to_memory(
        spl.incremental_dedup_stream(stream, corpus), "inc_dedup")
    got = {r.doc_id for r in spark.table("inc_dedup").collect()}

    corpus_hashes = corpus.select(
        F.md5(normalize("text")).alias("h")).distinct()
    want = {r.doc_id for r in
            batch.withColumn("h", F.md5(normalize("text")))
                 .join(corpus_hashes, "h", "left_anti")
                 .select("doc_id").collect()}
    assert got == want and len(want) > 0


def test_streaming_ohlc_matches_batch(spark, sf_dir, tick_json_dir):
    """D16: the streamed hourly candles equal the batch rollup over
    the same ticks — min_by/max_by partials merge correctly across
    micro-batches."""
    stream = spl.read_tick_stream(spark, tick_json_dir)
    _run_to_memory(spl.ohlc_stream(stream), "ohlc", "complete")
    got = {(r.ticker, r.window_start): r for r in spark.table("ohlc").collect()}

    t = batch_ticks(spark, sf_dir)
    want = {(r.ticker, r.window_start): r
            for r in t.groupBy("ticker",
                               F.window("ts", "1 hour").alias("w"))
            .agg(F.min_by("price", "ts").alias("open"),
                 F.max("price").alias("high"),
                 F.min("price").alias("low"),
                 F.max_by("price", "ts").alias("close"),
                 F.sum("volume").alias("w_volume"),
                 F.count(F.lit(1)).alias("n_ticks"))
            .select("ticker", F.col("w.start").alias("window_start"),
                    "open", "high", "low", "close", "w_volume", "n_ticks")
            .collect()}
    assert set(got) == set(want) and len(want) > 0
    for k, g in got.items():
        w = want[k]
        assert (g.open, g.high, g.low, g.close, g.w_volume, g.n_ticks) \
            == (w.open, w.high, w.low, w.close, w.w_volume, w.n_ticks), k


def test_streaming_model_enrichment_matches_batch(spark, sf_dir, tick_json_dir):
    """D17: the batched model-call enrichment stage runs unchanged on
    the tick stream; per-row results equal the batch operator on the
    same data."""
    from gcp_data_engineering_workshop_spark.operators.enrichment import (
        deterministic_tick_model, enrich_batched)

    import collections
    stream = spl.read_tick_stream(spark, tick_json_dir)
    _run_to_memory(spl.enriched_model_stream(stream), "enrich_s")
    # (ticker, ts) can repeat; compare full rows as multisets. The
    # JSON round-trip truncates ts to milliseconds, so truncate both.
    def _ms(ts):
        return ts.replace(microsecond=ts.microsecond // 1000 * 1000)

    got = collections.Counter(
        (r.ticker, _ms(r.ts), r.volume, r.ai_sentiment, r.ai_summary)
        for r in spark.table("enrich_s").collect())
    want_df = enrich_batched(
        batch_ticks(spark, sf_dir).drop("ai_sentiment", "ai_summary"),
        deterministic_tick_model, ["volume"],
        "ai_sentiment double, ai_summary string",
        defaults={"ai_sentiment": 0.0, "ai_summary": "neutral"})
    want = collections.Counter(
        (r.ticker, _ms(r.ts), r.volume, r.ai_sentiment, r.ai_summary)
        for r in want_df.collect())
    assert got == want and len(got) > 0
    assert len({k[4] for k in got}) > 1  # model output actually varies


def test_streaming_model_enrichment_chunk_fallback(spark, tick_json_dir):
    """A model that dies on some chunks degrades exactly those chunks
    to defaults — inside the stream, without failing the query."""
    def flaky(records):
        if any(int(r["volume"]) % 3 == 0 for r in records):
            raise RuntimeError("endpoint 500")
        from gcp_data_engineering_workshop_spark.operators.enrichment import (
            deterministic_tick_model)
        return deterministic_tick_model(records)

    stream = spl.read_tick_stream(spark, tick_json_dir)
    _run_to_memory(
        spl.enriched_model_stream(stream, batch_size=1, model_fn=flaky),
        "enrich_flaky")
    rows = spark.table("enrich_flaky").collect()
    assert rows
    for r in rows:
        if r.volume % 3 == 0:  # its 1-row chunk raised -> defaults
            assert (r.ai_sentiment, r.ai_summary) == (0.0, "neutral")


def test_streaming_media_decode_matches_batch(spark, sf_dir, tmp_path):
    """D18: streaming pHash over binary media parquet equals the
    batch C53 hashes row for row."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators import multimodal as M

    docs = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 80)
    media = M.as_image_media(docs)
    src = str(tmp_path / "media_stream")
    media.coalesce(2).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(media.schema).parquet(src)
    _run_to_memory(spl.media_decode_stream(stream), "media_phash")
    got = {r.doc_id: (r.phash, r.decoded)
           for r in spark.table("media_phash").collect()}
    want = {r.doc_id: (r.phash, r.decoded)
            for r in M.image_phash(media).collect()}
    assert got == want and len(want) == 80
    assert all(d for _, d in got.values())


def test_streaming_quality_score_matches_batch(spark, sf_dir, tmp_path):
    """D19: train offline (distributed logistic fit), score the
    document stream online — per-row parity with the batch scorer."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        quality_classifier)

    d = load_table(spark, "documents", sf_dir)
    src = str(tmp_path / "doc_stream_q")
    d.select("doc_id", "text", "lang").coalesce(2) \
        .write.mode("overwrite").parquet(src)
    # weights from the same fit the batch query runs
    from gcp_data_engineering_workshop_spark.plans import textpipeline as tp
    batch = {r.doc_id: (r.score, r.predicted)
             for r in quality_classifier(spark, sf_dir).collect()}
    # re-derive weights via the operator (deterministic fit)
    import numpy as np
    from gcp_data_engineering_workshop_spark.operators import classifier as CL
    from gcp_data_engineering_workshop_spark.functions import textfns as T
    w = F.col("w")
    dw = d.select("doc_id", "text", "lang", T.words("text").alias("w"))
    n_chars = F.length("text")
    pr = F.when(n_chars > 0, F.regexp_count("text", F.lit(r"[^\w\s]"))
                .cast("double") / n_chars).otherwise(F.lit(0.0))
    dr = F.when(n_chars > 0, F.regexp_count("text", F.lit(r"[0-9]"))
                .cast("double") / n_chars).otherwise(F.lit(0.0))
    feats = dw.select(
        "doc_id",
        F.array(F.least(F.size(w).cast("double") / 100.0, F.lit(1.0)),
                pr, dr, T.stopword_ratio_of(w, "en")).alias("features"),
        (F.col("lang") == "en").cast("double").alias("label"))
    wv = CL.logistic_fit(feats, dim=4, n_iter=5)

    stream = spark.readStream \
        .schema("doc_id bigint, text string, lang string").parquet(src)
    _run_to_memory(spl.quality_score_stream(stream, wv), "q_scores")
    got = {r.doc_id: (r.score, r.predicted)
           for r in spark.table("q_scores").collect()}
    assert got == batch and len(got) > 0


def test_streaming_semdedup_incremental_matches_batch(spark, sf_dir, tmp_path):
    """D20: stream-static semantic admission control equals the C60
    batch survivors when the batch slice streams in."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators.clustering import (
        kmeans_fit)
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        semdedup_incremental)

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.where(F.col("vec_id") % 10 < 8)
    batch = emb.where(F.col("vec_id") % 10 >= 8)
    n = corpus.count()
    k = max(2, int(round(n ** 0.5)))
    _, cent = kmeans_fit(corpus, k=k, n_iter=5)

    src = str(tmp_path / "emb_stream")
    batch.coalesce(2).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    _run_to_memory(
        spl.semdedup_incremental_stream(stream, corpus, cent), "sd_inc")
    got = {(r.vec_id, r.cluster_id)
           for r in spark.table("sd_inc").collect()}
    want = {(r.vec_id, r.cluster_id)
            for r in semdedup_incremental(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def test_streaming_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """D21: stateless bloom-pruned decontamination over a document
    stream — per-doc contaminated flags equal the C66 batch path for
    the same training slice."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        decontaminate_bloom)

    d = load_table(spark, "documents", sf_dir)
    eval_docs = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)

    src = str(tmp_path / "doc_stream_dc")
    train.select("doc_id", "text").coalesce(2) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream \
        .schema("doc_id bigint, text string").parquet(src)
    _run_to_memory(
        spl.decontaminate_stream(stream, eval_docs), "dc_stream")
    got = {r.doc_id: r.contaminated
           for r in spark.table("dc_stream").collect()}
    want = {r.doc_id: r.contaminated
            for r in decontaminate_bloom(spark, sf_dir).collect()}
    assert got == want and len(got) > 0
    assert any(got.values()) and not all(got.values())


def test_streaming_lm_score_matches_batch(spark, sf_dir, tmp_path):
    """D22: stream-static bigram-LM scoring equals the C44 batch
    scorer row for row when the corpus streams through (the LM is
    trained on the same corpus, so every bigram hits)."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.functions import textfns as T
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        bigram_lm_score)

    d = load_table(spark, "documents", sf_dir)
    wt = d.select("doc_id", T.words("text").alias("w"))
    bgs = wt.where(F.size("w") >= 2).select(F.explode(F.expr(
        "transform(sequence(0, size(w) - 2), "
        "i -> struct(w[i] AS w1, w[i+1] AS w2))")).alias("b")) \
        .select("b.w1", "b.w2")
    c_bg = bgs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ug = wt.select(F.explode("w").alias("w1"))
    c_ug = ug.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = ug.select("w1").distinct().count()

    src = str(tmp_path / "doc_stream_lm")
    d.select("doc_id", "text").coalesce(2) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream \
        .schema("doc_id bigint, text string").parquet(src)
    _run_to_memory(spl.lm_score_stream(stream, c_bg, c_ug, vocab_n),
                   "lm_scores", "complete")
    got = {(r.doc_id, r.n_bigrams, r.avg_logp)
           for r in spark.table("lm_scores").collect()}
    want = {(r.doc_id, r.n_bigrams, r.avg_logp)
            for r in bigram_lm_score(spark, sf_dir).collect()
            if r.n_bigrams > 0}
    assert got == want and len(want) > 0


def test_streaming_attributes_matches_batch(spark, sf_dir, tmp_path):
    """D23: the stateless streaming attributes projection equals the
    C76 batch bundle row for row."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        quality_attributes)

    d = load_table(spark, "documents", sf_dir)
    src = str(tmp_path / "doc_stream_attr")
    d.select("doc_id", "text", "lang").coalesce(2) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream \
        .schema("doc_id bigint, text string, lang string").parquet(src)
    _run_to_memory(spl.attributes_stream(stream), "attrs")
    got = {tuple(r) for r in spark.table("attrs").collect()}
    want = {tuple(r) for r in quality_attributes(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def test_transform_with_state_spike_matches_batch_and_d5(
        spark, sf_dir, tick_json_dir):
    """D24 end-to-end: the transformWithState twin (value/list state
    + TTL timers) emits the identical closed-window spike rows as
    the batch plan AND as D5's applyInPandasWithState form.

    Requires google.protobuf: transformWithState's Python<->JVM state
    protocol is protobuf-framed, and this container ships no
    protobuf — on a standard Spark 4 install this test runs; here it
    skips and test_spike_processor_unit_parity_without_wire covers
    the processor logic through a fake handle instead."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state server needs protobuf")
    from gcp_data_engineering_workshop_spark.streaming.state import (
        stateful_spike_stream_tws)

    stream = spl.read_tick_stream(spark, tick_json_dir)
    q = stateful_spike_stream_tws(stream).writeStream \
        .format("memory").queryName("spikes_tws") \
        .outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    got = {(r.ticker, r.window_start): r
           for r in spark.table("spikes_tws").collect()}

    batch = with_volume_spike(tumbling_1m(batch_ticks(spark, sf_dir))).collect()
    last = {}
    for r in batch:
        if r.ticker not in last or r.window_start > last[r.ticker]:
            last[r.ticker] = r.window_start
    want = {(r.ticker, r.window_start): r for r in batch
            if r.window_start != last[r.ticker]}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.is_volume_spike == w.is_volume_spike, k
        assert g.total_volume_1m == w.total_volume_1m
        assert g.latest_price == w.latest_price
        assert g.total_value_1m == pytest.approx(w.total_value_1m)
        assert g.avg_volume_10m == pytest.approx(w.avg_volume_10m)

    # and against D5 itself: same rows, same values
    q2 = stateful_spike_stream(stream).writeStream \
        .format("memory").queryName("spikes_d5_ref") \
        .outputMode("update").start()
    q2.processAllAvailable()
    q2.stop()
    d5 = {(r.ticker, r.window_start): r
          for r in spark.table("spikes_d5_ref").collect()}
    assert set(d5) == set(got)
    for k in got:
        assert got[k] == d5[k], k


def test_spike_processor_unit_parity_without_wire(spark, sf_dir):
    """D24 unit parity (no protobuf wire needed): drive the
    StatefulProcessor directly with fake value/list states over the
    real per-ticker tick stream, and assert its closed-window rows
    equal the batch plan's — the same contract the D5 test checks.
    Also exercises the TTL path: handleExpiredTimer clears both
    states, and a re-fed ticker starts from empty history."""
    import pandas as pd
    from gcp_data_engineering_workshop_spark.streaming.state import (
        spike_processor)

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeListState(FakeValueState):
        def put(self, rows):
            self.v = list(rows)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeValueState())

        def getListState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeListState())

        def listTimers(self):
            return []

        def deleteTimer(self, t):
            pass

        def registerTimer(self, t):
            self.last_timer = t

    class FakeTimerValues:
        def getCurrentProcessingTimeInMs(self):
            return 0

    ticks = batch_ticks(spark, sf_dir).select(
        "ticker", "ts", "price", "volume", "ai_sentiment", "ai_summary")
    pdf_all = ticks.toPandas()
    got = {}
    procs = {}
    for ticker, group in pdf_all.groupby("ticker"):
        proc = spike_processor()
        handle = FakeHandle()
        proc.init(handle)
        procs[ticker] = (proc, handle)
        for out in proc.handleInputRows(
                (ticker,), iter([group]), FakeTimerValues()):
            for r in out.itertuples():
                got[(ticker, r.window_start.to_pydatetime())] = r
        assert handle.last_timer == 3_600_000  # TTL armed

    batch = with_volume_spike(tumbling_1m(batch_ticks(spark, sf_dir))).collect()
    last = {}
    for r in batch:
        if r.ticker not in last or r.window_start > last[r.ticker]:
            last[r.ticker] = r.window_start
    want = {(r.ticker, r.window_start): r for r in batch
            if r.window_start != last[r.ticker]}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.is_volume_spike == w.is_volume_spike, k
        assert g.total_volume_1m == w.total_volume_1m
        assert g.latest_price == w.latest_price
        assert g.total_value_1m == pytest.approx(w.total_value_1m)
        assert g.avg_volume_10m == pytest.approx(w.avg_volume_10m)

    # TTL expiry clears both states
    ticker, (proc, handle) = next(iter(procs.items()))
    assert handle.states["open_window"].exists()
    list(proc.handleExpiredTimer((ticker,), FakeTimerValues(), None))
    assert not handle.states["open_window"].exists()
    assert not handle.states["volume_history"].exists()


def test_streaming_ingest_bloom_matches_batch(spark, sf_dir, tmp_path):
    """D25: the bloom-gated streaming admission equals BOTH the
    batch C85 operator and D15's plain anti-join on the same split —
    at production sizing and at an FP-forcing m_bits=1024 (the
    confirm join must absorb false positives without dropping or
    duplicating admissions)."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.operators.dedup import (
        incremental_dedup_bloom)

    d = load_table(spark, "documents", sf_dir)
    batch = d.where(F.col("doc_id") % 10 >= 8)
    corpus = d.where(F.col("doc_id") % 10 < 8)

    src = str(tmp_path / "bloom_doc_stream")
    batch.select("doc_id", "text", "lang").coalesce(2) \
        .write.mode("overwrite").json(src)
    want = {r.doc_id for r in
            incremental_dedup_bloom(batch, corpus).collect()}
    for m_bits in (1 << 18, 1024):
        stream = (spark.readStream
                  .schema("doc_id bigint, text string, lang string")
                  .json(src))
        _run_to_memory(
            spl.ingest_bloom_stream(stream, corpus, m_bits=m_bits),
            f"ingest_bloom_{m_bits}")
        rows = spark.table(f"ingest_bloom_{m_bits}").collect()
        got = [r.doc_id for r in rows]
        assert len(got) == len(set(got))  # no duplicate admissions
        assert set(got) == want, m_bits
    assert len(want) > 0


def test_streaming_source_card_matches_batch(spark, sf_dir, tmp_path):
    """D26: the streamed per-source card equals the batch numbers
    over the same (non-eval) doc slice — counts, word mass, and the
    contamination rollup by source."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.functions import (
        textfns as T)
    from gcp_data_engineering_workshop_spark.plans.textpipeline import (
        decontaminate)

    d = load_table(spark, "documents", sf_dir)
    train = d.where(F.col("doc_id") % 97 != 0)
    ev = d.where(F.col("doc_id") % 97 == 0)

    src = str(tmp_path / "card_stream")
    train.select("doc_id", "text", "source").coalesce(2) \
        .write.mode("overwrite").json(src)
    stream = (spark.readStream
              .schema("doc_id bigint, text string, source string")
              .json(src))
    _run_to_memory(spl.source_card_stream(stream, ev), "src_card",
                   "complete")
    got = {r.source: (r.n_docs, r.n_words_total, r.contaminated_docs)
           for r in spark.table("src_card").collect()}

    base = {r.source: (r.n, r.nw) for r in
            train.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.size(T.words("text"))).alias("nw")).collect()}
    cont = {r.source: r.c for r in
            decontaminate(spark, sf_dir).where("contaminated")
            .join(d.select("doc_id", "source"), "doc_id")
            .groupBy("source").agg(F.count(F.lit(1)).alias("c"))
            .collect()}
    want = {s: (n, nw, cont.get(s, 0)) for s, (n, nw) in base.items()}
    assert got == want and len(want) > 1
