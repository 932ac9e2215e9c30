"""Structured Streaming ingestion of transcript turns.

The reference serves one document per HTTP request behind a global lock
(reference: src/gerbil_connect/server.py:45,88-116 — concurrency 1).  The
Spark-native replacement is a streaming job: new transcript turns arrive
continuously, late/duplicate turns are dropped by watermark + key, and
each micro-batch writes extracted mentions to an epoch-scoped partition of
the mentions table via ``foreachBatch`` (at-least-once delivery made
effectively-once by idempotent per-epoch partition overwrite).

Batch-first engine: this module is optional for the F1 target (SURVEY
§2.9) but gives parity for continuous ingestion.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spel_spark.io import CheckpointStore
from spel_spark.operators.mentions import (
    extract_mentions,
    with_mention_id,
    with_norm_surface,
)

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-based streaming source over a growing parquet directory."""
    return (
        spark.readStream.format("parquet")
        .schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def streaming_mentions(
    stream: DataFrame,
    redirects: DataFrame | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Deduplicated mention stream.

    Watermark on event time + dropDuplicates on the turn key implements the
    per-turn exactly-once invariant for late/replayed data
    (``dropDuplicates(['conv_id','turn_idx'])`` within the watermark).
    """
    deduped = stream.withWatermark("ts", watermark).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    return with_mention_id(with_norm_surface(extract_mentions(deduped), redirects))


def start_mention_ingest(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    redirects: DataFrame | None = None,
    trigger_seconds: int | None = None,
):
    """Continuous mentions ingestion: source dir -> mentions parquet sink.

    Idempotent sink: each micro-batch writes to its own ``epoch=<id>``
    partition with dynamic partition overwrite, so a retried epoch (after
    a partial write + executor loss) REPLACES its partition instead of
    appending duplicates — foreachBatch is at-least-once per epoch, and
    epoch-scoped overwrite upgrades it to effectively-once.  The streaming
    checkpoint gives resume (the streaming twin of CheckpointStore's batch
    resume).  Returns the StreamingQuery (caller stops it).
    """
    stream = read_transcript_stream(spark, source_path)
    mentions = streaming_mentions(stream, redirects)

    store = CheckpointStore(spark, os.path.dirname(sink_path))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        store.write_epoch(batch_df, os.path.basename(sink_path), epoch_id)

    writer = (
        mentions.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()

