"""Streaming decontamination ([EXT]): screen a live document stream
against the persisted eval-set bloom as documents arrive, instead of as a
nightly batch sweep.

The bloom register table is a BUILD-TIME artifact (built once per
eval-set version from the eval split's shingles — see
``operators/sketch.bloom_registers`` and the persisted-index pattern in
``__spark_entry__._bloom_index``); the stream job only ever pays the
probe. Per micro-batch, each document's shingles are tested against the
bloom (k broadcast joins against the ≤64Ki-row bit set), and the batch is
routed: zero-hit documents are PROVEN clean (bloom misses are one-sided)
and land in the corpus dir; flagged documents — a small superset of the
truly contaminated — land in a quarantine dir for exact verification or
drop.

Scale/exactly-once design:
- the bloom side is static and tiny, so every micro-batch plan is
  scan → broadcast-probe → doc_id fold; no stream state at all (the
  screen is stateless per document — nothing to checkpoint beyond
  offsets);
- both sinks are one ``compaction.write_shard`` per micro-batch: a
  replayed batch overwrites itself, so routing is exactly-once on
  non-transactional storage;
- the SAME probe operator (``sketch.bloom_probe``) serves batch backfills
  and the live stream — one code path, one false-positive budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketch import BLOOM_K, bloom_probe
from .compaction import file_stream, read_merged, start_shard_stream, write_shard
from .dedup_stream import DOC_STREAM_SCHEMA

# what lands in clean_dir / quarantine_dir (batch_id is the partition
# dir); read_routed reads with it
ROUTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_bloom_hits", T.LongType()),
        T.StructField("flagged", T.BooleanType()),
        T.StructField("batch_id", T.IntegerType()),
    ]
)


def read_routed(spark: SparkSession, routed_dir: str) -> DataFrame:
    """Read a clean/quarantine dir as ``ROUTED_SCHEMA`` — also when every
    batch so far routed zero documents to this side."""
    return read_merged(spark, routed_dir, ROUTED_SCHEMA, lambda df: df)


def start_decontam_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    clean_dir: str,
    quarantine_dir: str,
    eval_bits: DataFrame,
    shingle_k: int = 3,
    m_bits: int = 1 << 16,
    k: int = BLOOM_K,
    query_name: str = "decontam_docs",
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Tail a directory of document json files; per micro-batch, probe the
    static eval bloom and route clean docs to ``clean_dir`` and flagged
    docs to ``quarantine_dir`` (idempotent ``batch_id=N`` shard dirs).

    ``m_bits``/``k`` MUST match the geometry ``eval_bits`` was built with
    (``bloom_registers``' knobs): bit positions are computed mod
    ``m_bits``, so probing a 2²⁰-bit register table with the default 2¹⁶
    geometry computes different positions than the build set — membership
    joins miss and contaminated documents land in ``clean_dir`` as
    "proven clean", silently breaking the one-sided guarantee.

    Drive deterministically with ``processAllAvailable()``; read results
    with :func:`read_routed` (``batch_id`` is a partition column, and the
    explicit schema keeps an all-empty side readable). ``reader_options``
    passes file-source knobs (e.g. ``maxFilesPerTrigger``) through to
    ``compaction.file_stream``.
    """
    bits = eval_bits.cache()  # static side, reused every micro-batch

    def _route_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "ts", "text")
        stats = bloom_probe(docs, bits, "text", shingle_k, m_bits, k)
        routed = docs.join(
            stats.select("doc_id", "n_bloom_hits", "dropped"), "doc_id", "left"
        ).select(
            "doc_id",
            "ts",
            "text",
            # docs too short to shingle never probe: no evidence -> clean
            F.coalesce(F.col("n_bloom_hits"), F.lit(0)).alias("n_bloom_hits"),
            F.coalesce(F.col("dropped"), F.lit(False)).alias("flagged"),
        )
        # two sinks consume the same probe: persist so the shingle+bloom
        # work runs once per micro-batch, not once per sink
        routed.persist()
        try:
            write_shard(routed.filter(~F.col("flagged")), clean_dir, batch_id)
            write_shard(
                routed.filter(F.col("flagged")), quarantine_dir, batch_id
            )
        finally:
            routed.unpersist()

    stream = file_stream(spark, DOC_STREAM_SCHEMA, source_dir, reader_options)
    return start_shard_stream(stream, checkpoint_dir, query_name, _route_batch)
