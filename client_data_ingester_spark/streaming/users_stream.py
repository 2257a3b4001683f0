"""Streaming cumulative-unique-users maintenance ([EXT]): the live
distinct-user growth curve over an event stream.

The batch operator (operators/events.cumulative_unique_users) folds each
user to their first-seen bucket; this module keeps that fold continuously
up to date with the merge-on-read shard primitive of
streaming/compaction.py: each micro-batch writes ONLY its own
(user_id, first-bucket-in-batch) rows as one shard (``write_shard``: a
replayed batch overwrites itself), and readers fold all shards with
``groupBy(user_id).min(_first)`` (``read_merged``) — associative and
replay-insensitive, so the merged fold is EXACTLY the batch fold over the
union of everything streamed (asserted in tests).

Why this shape at scale:
- no global state store and no read-modify-write: the stream job never
  anti-joins a batch against the full user registry (that join is O(users)
  per batch); it appends a batch-local fold and defers the merge to read;
- a shard holds at most |distinct users in batch| rows — bounded by batch
  size however large the registry grows;
- MIN-merge means backfills and replays can land in any order, and batch-
  built first-seen tables merge with streamed shards (same schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.events import cumulative_from_first_seen
from .compaction import file_stream, read_merged, start_shard_stream, write_shard
from .sketch_stream import EVENT_STREAM_SCHEMA


def start_first_seen_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    shard_dir: str,
    unit: str = "hour",
    query_name: str = "first_seen_users",
) -> StreamingQuery:
    """Tail a directory of event json files; per micro-batch, land that
    batch's per-user first-seen fold in its own idempotent shard dir."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        first = batch_df.groupBy("user_id").agg(
            F.min(F.date_trunc(unit, F.col("ts"))).alias("_first")
        )
        write_shard(first, shard_dir, batch_id)

    stream = file_stream(spark, EVENT_STREAM_SCHEMA, source_dir)
    return start_shard_stream(stream, checkpoint_dir, query_name, _write_batch)


def merged_first_seen(spark: SparkSession, shard_dir: str) -> DataFrame:
    """All shards folded to one (user_id, _first) registry
    (merge-on-read; MIN is associative and replay-idempotent). Before the
    first commit this is the EMPTY registry — the correct zero-users
    state."""
    return read_merged(
        spark,
        shard_dir,
        "user_id long, _first timestamp",
        lambda df: df.groupBy("user_id").agg(F.min("_first").alias("_first")),
    )


def read_cumulative_users(
    spark: SparkSession, shard_dir: str, unit: str = "hour"
) -> DataFrame:
    """Current dense cumulative-unique-users curve over everything
    streamed so far — identical to the batch operator over the union of
    all micro-batch inputs (asserted in tests)."""
    return cumulative_from_first_seen(merged_first_seen(spark, shard_dir), unit)
