"""Exactly-once streaming sinks via foreachBatch + idempotent writes.

Structured Streaming guarantees each micro-batch a stable ``batch_id``
and replays a batch after failure with the SAME id. A sink is
exactly-once iff re-writing a replayed batch leaves the output
unchanged — achieved here by partitioning the output on the batch id
and overwriting ONLY that partition (dynamic partition overwrite):
the replay replaces its own partition byte-for-byte instead of
appending duplicates.

This is the file-sink shape a 100 TB deployment uses when the built-in
parquet sink's directory-log semantics don't fit (e.g. external tables
read by engines that don't understand Spark's _spark_metadata log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_batch_idempotent(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """foreachBatch callback: land one micro-batch under its own
    batch_id partition, dynamically overwriting on replay."""
    (
        batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def start_idempotent_file_sink(events: DataFrame, out_path: str, checkpoint: str):
    """Stream events to an idempotent partitioned parquet sink,
    draining the current backlog (availableNow) with checkpointing —
    a restart resumes from the checkpoint and never rewrites completed
    batches except as byte-identical replays."""
    return (
        events.writeStream.foreachBatch(
            lambda df, bid: write_batch_idempotent(df, bid, out_path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def drain_to_memory(result: DataFrame, name: str, output_mode: str):
    """Drain the current backlog into the in-memory sink table ``name``
    (Trigger.AvailableNow) and return the finished StreamingQuery —
    its lastProgress carries the state-operator receipt.

    ``output_mode`` is the stream's own contract: ``complete`` for
    windowed tables the memory sink cannot update in place,
    ``append`` for stateless stages and stream-stream joins,
    ``update`` for keyed state that emits each touched key's current
    row."""
    query = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
