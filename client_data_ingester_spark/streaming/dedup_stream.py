"""Streaming deduplication ([EXT], SURVEY §2.9): the streaming twin of
operators/dedup.exact_duplicates.

A document stream is deduplicated on the normalized-text digest as it
arrives, so the downstream pipeline (quality scoring, tokenization, sink)
only ever sees each distinct text once — the "dedup at ingest, not as a
nightly batch" shape a continuously-fed training corpus needs.

State design for scale:
- the dedup key is the md5 DIGEST of the normalized text (16 bytes in the
  state store), never the text itself — state size is O(distinct docs), not
  O(corpus bytes);
- ``dropDuplicatesWithinWatermark`` bounds the state store by event time:
  a digest is only held while a duplicate could still arrive inside the
  watermark delay, then evicted. Unbounded-history dedup (the batch
  operator) is the wrong tool in a stream — its state grows forever;
  within-watermark dedup is the streaming contract: exact within the
  horizon, append-only beyond it (re-sends older than the watermark are the
  batch job's problem, same division of labor as Kafka→lakehouse pipelines);
- the per-batch plan is a hash aggregate on the digest — same shuffle key
  and skew behavior as the batch exact-dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import norm_text
from .compaction import file_stream, start_shard_stream, write_shard

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def dedup_stream(
    stream: DataFrame,
    watermark_delay: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """Distinct-text pass-through: first arrival of each normalized text
    (within the watermark horizon) survives, later copies are dropped."""
    return (
        stream.withColumn("text_hash", F.md5(norm_text(F.col(text_col))))
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def start_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "deduped_docs",
    watermark_delay: str = "10 minutes",
) -> StreamingQuery:
    """Tail a directory of document json files → memory sink of first-seen
    documents. Drive deterministically with ``processAllAvailable()``.

    Memory sink = test/debug harness; production lands through
    :func:`start_dedup_stream_to_parquet`.
    """
    return (
        dedup_stream(
            file_stream(spark, DOC_STREAM_SCHEMA, source_dir), watermark_delay
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_dedup_stream_to_parquet(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    query_name: str = "deduped_docs_parquet",
    watermark_delay: str = "10 minutes",
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Production sink: first-seen documents land as parquet, exactly-once
    across restarts and replays.

    One ``compaction.write_shard`` per micro-batch makes the sink
    IDEMPOTENT: after a crash between "batch written" and "offset
    committed", the restarted query replays the same batchId into the same
    dir and overwrites its own partial output instead of duplicating rows.
    The dedup STATE (seen digests within the watermark horizon) lives in
    the checkpoint, so a restart keeps dropping duplicates of documents
    that arrived before the crash. Read the result with
    ``compaction.read_complete_shards(spark, output_dir)`` (``batch_id``
    is a partition column): unlike a plain ``spark.read.parquet``, it
    skips a shard that :func:`compact_output` is still installing.
    """
    docs = file_stream(spark, DOC_STREAM_SCHEMA, source_dir, reader_options)
    return start_shard_stream(
        dedup_stream(docs, watermark_delay),
        checkpoint_dir,
        query_name,
        lambda batch_df, batch_id: write_shard(batch_df, output_dir, batch_id),
    )


def compact_output(
    spark: SparkSession,
    output_dir: str,
    keep_last: int = 1,
    min_shards: int = 8,
) -> "int | None":
    """Read-side shard bound for the dedup parquet sink: doc rows are NOT
    set-merged on read (unlike band/edge/register shards), so the fold
    keys on ``doc_id`` — a crash-window re-fold can then never multiply
    a document across compaction generations. Run from a maintenance
    schedule, same contract as ``compaction.compact_batch_shards``."""
    from .compaction import compact_batch_shards

    return compact_batch_shards(
        spark, output_dir, keep_last, min_shards, dedupe_cols=["doc_id"]
    )
