"""Streaming sinks (SURVEY.md §2 D6) — the WriteToBigQuery analog
(analysis-dataflow-pipeline/pipeline.py:127-133).

- memory_sink: test/debug sink with processAllAvailable semantics.
- parquet_append_sink: WRITE_APPEND to a partitioned parquet table
  with checkpointing (exactly-once file sink).
- foreach_batch_upsert: keyed upsert via foreachBatch — the pattern
  for sinks without native exactly-once (JDBC/warehouse): each
  micro-batch deduplicates on key and appends, stamped with its batch
  id; readers take the keyed view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def memory_sink(df: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    return (df.writeStream.format("memory").queryName(name)
            .outputMode(output_mode).start())


def parquet_append_sink(df: DataFrame, path: str, checkpoint: str,
                        partition_by: tuple[str, ...] = ()) -> StreamingQuery:
    w = (df.writeStream.format("parquet")
         .option("path", path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append"))
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.start()


def foreach_batch_upsert(df: DataFrame, path: str, checkpoint: str,
                         key_cols: tuple[str, ...]) -> StreamingQuery:
    """Keyed micro-batch upsert: each batch is deduplicated on the key
    and appended with a ``_batch_id`` column. The raw output is
    at-least-once: a batch replayed after a crash between the write
    and the checkpoint commit is appended again. The keyed view
    (dedupe on ``key_cols``, latest ``_batch_id`` wins) is
    exactly-once."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        (batch.dropDuplicates(list(key_cols))
              .withColumn("_batch_id", F.lit(batch_id))
              .write.mode("append").parquet(path))

    return (df.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", checkpoint)
            .outputMode("update").start())
