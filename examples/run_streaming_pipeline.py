"""End-to-end streaming demo: the full reference topology on Spark.

JSON tick replay (≈ Pub/Sub subscription fed by the ingestion
function's replay mode)
  -> watermarked 1-min tumbling aggregation (≈ FixedWindows(60))
  -> 5-min/1-min sliding window over those minute rows, rebuilding
     the SMA and keeping the minute that ends with the window
     (≈ SlidingWindows(300,60) + CoGroupByKey, as one chained
     aggregation instead of a stream-stream join)
and, in parallel from the same source,
  -> fused stateful windowing + volume-spike detection
     (≈ DetectVolumeSpike BagStateSpec DoFn)
  -> foreachBatch keyed upsert sink       (≈ WriteToBigQuery
     WRITE_APPEND; stateful output is update-mode, which append-only
     file sinks can't take directly)
and finally the r10 table-format hop: the joined metrics land in an
E22 txlog table via the exactly-once stream sink, and a SECOND
stream (readStream format "txlogstream") tails that table into a
downstream aggregate — the bronze -> silver medallion shape, both
edges on the commit log.

Run: python examples/run_streaming_pipeline.py
"""

from __future__ import annotations

import os
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# the Python workers the JVM starts import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (_REPO, os.environ.get("PYTHONPATH"))))

from gcp_data_engineering_workshop_spark.session import get_spark
from gcp_data_engineering_workshop_spark.sources.ticks import ticks
from gcp_data_engineering_workshop_spark.streaming import pipeline as spl
from gcp_data_engineering_workshop_spark.streaming import sinks
from gcp_data_engineering_workshop_spark.streaming.state import stateful_spike_stream


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark("streaming-demo")
    try:
        _run(spark, sf_dir)
    finally:
        # a failed step must not leave queries or the JVM running
        for q in spark.streams.active:
            q.stop()
        spark.stop()


def _run(spark, sf_dir: str) -> None:
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="stock_out_")

    # replay the historical feed as a file stream (several files so
    # the micro-batch loop actually advances watermarks batch by batch)
    feed = f"{out}/feed"
    ticks(spark, sf_dir).orderBy("ts").coalesce(4).write.json(feed)
    stream = spl.read_tick_stream(spark, feed, max_files_per_trigger=1)

    joined = spl.joined_metrics_stream(stream)
    q1 = sinks.memory_sink(joined, "joined_metrics")

    spiked = stateful_spike_stream(stream)
    q2 = sinks.foreach_batch_upsert(
        spiked, f"{out}/table", f"{out}/ckpt",
        key_cols=("ticker", "window_start"))

    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    print("\n-- joined 1m metrics + SMA (chained window aggregation, append mode) --")
    spark.table("joined_metrics").orderBy("ticker", "window_end") \
        .show(10, truncate=False)
    print(f"total joined windows emitted: {spark.table('joined_metrics').count()}")

    print("\n-- stateful spike output (upsert sink) --")
    df = spark.read.parquet(f"{out}/table")
    df.where("is_volume_spike").orderBy("ticker", "window_start") \
      .show(10, truncate=False)
    print(f"windows written: {df.count()}, spikes: {df.where('is_volume_spike').count()}")

    # --- table-to-table hop: joined metrics -> txlog (exactly-once
    # sink) -> txlogstream source -> downstream per-ticker rollup ---
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.sources import txlog as T
    from gcp_data_engineering_workshop_spark.sources.txlog import (
        TxLogStreamDataSource)

    bronze = f"{out}/bronze"
    q3 = (spl.joined_metrics_stream(
            spl.read_tick_stream(spark, feed, max_files_per_trigger=2))
          .writeStream.option("checkpointLocation", f"{out}/ckpt_b")
          .foreachBatch(T.stream_sink(bronze, app_id="bronze"))
          .start())
    q3.processAllAvailable(); q3.stop()

    spark.dataSource.register(TxLogStreamDataSource)
    silver = (spark.readStream.format("txlogstream")
              .option("path", bronze).load()
              .groupBy("ticker")
              .agg(F.count(F.lit(1)).alias("n_windows"),
                   F.max("sma_5m").alias("max_sma")))
    q4 = (silver.writeStream.format("memory").queryName("silver")
          .outputMode("complete").start())
    q4.processAllAvailable(); q4.stop()
    print("\n-- silver rollup (streamed FROM the txlog table) --")
    spark.table("silver").orderBy("ticker").show(10, truncate=False)
    print(f"bronze commits: {len(T.history(bronze))}, "
          f"txn watermark: {T.snapshot(bronze)['txn']}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
