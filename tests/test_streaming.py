"""Streaming ingestion: watermark dedup + foreachBatch sink == batch result."""

import pandas as pd

from spel_spark.operators.mentions import (
    extract_mentions,
    with_mention_id,
    with_norm_surface,
)
from spel_spark.streaming.ingest import start_mention_ingest


def test_streaming_matches_batch(spark, corpus, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    head = corpus.transcripts.head(300)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    first = spark.createDataFrame(head.iloc[:200], schema=schema)
    # second file REPLAYS 50 turns (duplicates) + 100 new
    second = spark.createDataFrame(head.iloc[150:300], schema=schema)
    first.coalesce(1).write.mode("append").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    q = start_mention_ingest(spark, src, sink, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    batch = with_mention_id(
        with_norm_surface(
            extract_mentions(spark.createDataFrame(head, schema=schema))
        )
    )
    got_ids = sorted(r.mention_id for r in got.select("mention_id").collect())
    want_ids = sorted(r.mention_id for r in batch.select("mention_id").collect())
    assert got_ids == want_ids  # replayed turns deduped, none lost

