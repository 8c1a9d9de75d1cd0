"""Structured Streaming: the streaming twins of plans/events.py.

The reference has NO streaming runtime — its incrementality is re-run
batch over an append-only raw zone (SURVEY.md §2.2 "Streaming"). These
jobs are the engine's forward-looking extension: the same tumbling
aggregation as events_tumbling_hourly, expressed as
readStream → watermark → window → sink, so a deployment can flip the
events table from nightly batch to continuous without changing the
query's meaning.

Design notes for the 100 TB / continuous case:
* watermark bounds state: events later than WATERMARK_DELAY past the
  max seen ts are dropped, so the window state store stays O(open
  windows), not O(history).
* `available_now` trigger processes a backlog in bounded batches and
  stops — the batch/stream bridge (``sinks.drain_to_memory``, used by
  tests; a deployment would use a processingTime trigger).
* sinks: tests use the in-memory sink; production would writeStream
  to parquet with checkpointing for exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

WATERMARK_DELAY = "10 minutes"


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream: each JSON file dropped into source_dir is a
    micro-batch of events (the streaming analog of the raw zone)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(source_dir)
    )


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_tumbling_hourly: tumbling 1h window
    per event_type with a late-data watermark."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_sliding_1h_30m: overlapping 1h windows
    sliding every 30m — each event lands in exactly two window states;
    the watermark closes both once event time moves past them."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


# Static enrichment dim for the stream-static join: event_type →
# (category, weight). Constant table — in production this is a parquet
# dim reloaded per micro-batch by Spark automatically.
EVENT_TYPE_DIM = (
    ("click", "engagement", 1),
    ("view", "engagement", 0),
    ("purchase", "conversion", 5),
    ("signup", "conversion", 3),
    ("error", "quality", -1),
)


def event_type_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(EVENT_TYPE_DIM), ["event_type", "category", "weight"]
    )


def enriched_category_totals_stream(
    events: DataFrame, dim: DataFrame
) -> DataFrame:
    """Stream-static join + windowed rollup: each micro-batch joins the
    (broadcast) static dim — no state needed for the join itself, only
    for the downstream window aggregation. The canonical enrichment
    shape: at 100 TB the dim is a parquet table Spark re-resolves every
    trigger, so slowly-changing dims are picked up without restarts."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .join(F.broadcast(dim), "event_type")
        .groupBy(F.window("ts", "1 hour").alias("w"), "category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("weight").alias("total_weight"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "category",
            "n_events",
            "total_weight",
        )
    )


def error_rate_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_error_rate_hourly: per-hour error
    fraction with the same integer cross-multiplied alert (>25%),
    maintained under a late-data watermark. The conditional-sum
    aggregate is incrementally mergeable, so the state per open window
    is two longs — the monitor runs at any event volume."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_events",
            "n_errors",
            (F.col("n_errors").cast("double") / F.col("n_events"))
            .cast("double")
            .alias("error_rate"),
            F.when(F.col("n_errors") * 4 > F.col("n_events"), 1)
            .otherwise(0)
            .cast("int")
            .alias("alert"),
        )
    )
