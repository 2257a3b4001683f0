"""Streaming PQ encoding ([EXT]): absorb embedding arrivals into the
product-quantization index as they land, instead of re-encoding the
corpus nightly.

The codebooks are a BUILD-TIME artifact (trained once per corpus version
— ``operators/similarity.pq_model`` via the persisted-index pattern in
``__spark_entry__._pq_index``); the stream job pays only the encode:
per micro-batch, one broadcast join of the m x k codebook against the
batch's subvectors (``operators/similarity.pq_encode`` — the SAME
int64-exact assignment as the batch build, so a streamed corpus encodes
bit-identically to a batch re-encode).

Scale/exactly-once design:
- the codebook side is static and tiny (m x k rows), so every
  micro-batch plan is scan → map-side subvector fan-out → broadcast
  assign; no stream state (nothing to checkpoint beyond offsets);
- the sink is one ``compaction.write_shard`` per micro-batch: a
  replayed batch overwrites itself, so the code table is exactly-once
  on non-transactional storage;
- codes are append-only between re-trainings; a re-training bumps the
  index version dir and the stream restarts against the new codebooks
  (same rotation as any persisted-artifact refresh).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import pq_encode
from .compaction import file_stream, read_merged, start_shard_stream, write_shard

VEC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)

# the code shards' schema (read_merged reads with it)
CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("sub", T.IntegerType()),
        T.StructField("code", T.LongType()),
        T.StructField("dist_sq", T.LongType()),
        T.StructField("batch_id", T.IntegerType()),
    ]
)


def start_pq_encode_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    codes_dir: str,
    codebooks: DataFrame,
    dim: int = 64,
    m: int = 4,
    query_name: str = "pq_encode",
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Tail a directory of embedding json files; per micro-batch, encode
    against the static codebooks and land ``(vec_id, sub, code,
    dist_sq)`` rows in an idempotent ``batch_id=N`` shard dir. Drive
    deterministically with ``processAllAvailable()``; read results with
    :func:`read_codes`."""
    books = codebooks.cache()  # static side, reused every micro-batch

    def _encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        codes = pq_encode(
            batch_df.select("vec_id", "embedding"), books, dim=dim, m=m
        )
        write_shard(codes, codes_dir, batch_id)

    stream = file_stream(spark, VEC_STREAM_SCHEMA, source_dir, reader_options)
    return start_shard_stream(stream, checkpoint_dir, query_name, _encode_batch)


def read_codes(spark: SparkSession, codes_dir: str) -> DataFrame:
    """The cumulative streamed code table ``(vec_id, sub, code, dist_sq)``
    (merge-on-read over batch shards; empty before the first commit)."""
    return read_merged(
        spark,
        codes_dir,
        CODES_SCHEMA,
        lambda df: df.select("vec_id", "sub", "code", "dist_sq"),
    )
