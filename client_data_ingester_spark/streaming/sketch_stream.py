"""Streaming sketch maintenance ([EXT]): continuously-updated HLL distinct
counts and Count-Min frequencies over an event stream.

The batch sketch (operators/sketch.py) made register state an open,
mergeable DataFrame; this module closes the loop for streams. Each
micro-batch writes ONLY its own registers as one shard
(``compaction.write_shard``: a replayed batch overwrites itself).
Estimates are MERGE-ON-READ (``compaction.read_merged``): readers fold
all shards with ``groupBy(group, bucket).max(r)`` — associative, order-
and replay-insensitive — then apply the standard estimate.

Why this shape at scale:
- the stream job does no read-modify-write of global state (no lock, no
  transactional table needed): appends are tiny (≤ m rows per group per
  batch) and the merge is deferred to readers;
- shard count grows with batch count, not data size; ``compact_registers``
  folds history into a single shard when listings get long (any replayed
  batch after compaction still merges correctly — max is idempotent);
- the same register shards can be merged with BATCH-built registers (same
  schema, same hash), so a backfill job and the live stream feed one
  estimate;
- the pattern is merge-generic: HLL shards fold by MAX, CMS shards by SUM
  — any associative, replay-idempotent-after-overwrite merge fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketch import DEFAULT_P, hll_estimate, hll_registers
from .compaction import file_stream, read_merged, start_shard_stream, write_shard

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
    ]
)


def start_hll_register_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    register_dir: str,
    value_col: str = "user_id",
    group_cols: list[str] | None = None,
    p: int = DEFAULT_P,
    query_name: str = "hll_registers",
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Tail a directory of event json files; per micro-batch, land that
    batch's HLL registers in its own idempotent shard dir.
    ``reader_options`` (e.g. ``{"maxFilesPerTrigger": 1}``) control the
    micro-batch granularity — the same knob the other file-tailing
    starters expose."""
    group_cols = list(group_cols or [])

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, value_col, group_cols, p)
        write_shard(regs, register_dir, batch_id)

    stream = file_stream(spark, EVENT_STREAM_SCHEMA, source_dir, reader_options)
    return start_shard_stream(stream, checkpoint_dir, query_name, _write_batch)


def merged_registers(
    spark: SparkSession,
    register_dir: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """All shards folded to one register table (merge-on-read; empty
    before the first commit). Group-column types come from
    ``EVENT_STREAM_SCHEMA`` — the only source these register streams
    ever read."""
    group_cols = list(group_cols or [])
    fields = [EVENT_STREAM_SCHEMA[c] for c in group_cols] + [
        T.StructField("bucket", T.LongType()),
        T.StructField("r", T.IntegerType()),
    ]
    return read_merged(
        spark,
        register_dir,
        T.StructType(fields),
        lambda df: df.groupBy(*group_cols, "bucket").agg(F.max("r").alias("r")),
    )


def read_hll_estimate(
    spark: SparkSession,
    register_dir: str,
    group_cols: list[str] | None = None,
    p: int = DEFAULT_P,
) -> DataFrame:
    """Current distinct-count estimate over everything streamed so far —
    bit-identical to a batch ``hll_distinct`` over the union of all
    micro-batch inputs (asserted in tests)."""
    group_cols = list(group_cols or [])
    return hll_estimate(
        merged_registers(spark, register_dir, group_cols), group_cols, p
    )


def compact_registers(
    spark: SparkSession,
    register_dir: str,
    compacted_dir: str,
    group_cols: list[str] | None = None,
) -> None:
    """Fold all shards into a single shard at ``compacted_dir`` (a fresh
    root for readers). Estimates before and after are identical; max-merge
    idempotence means late replays against the old root stay mergeable."""
    group_cols = list(group_cols or [])
    merged = merged_registers(spark, register_dir, group_cols).coalesce(1)
    write_shard(merged, compacted_dir, "compacted")


def start_cms_register_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    register_dir: str,
    value_col: str = "user_id",
    depth: int = None,
    width: int = None,
    query_name: str = "cms_registers",
) -> StreamingQuery:
    """Count-Min twin of :func:`start_hll_register_stream`: per micro-batch
    counter shards, idempotent per batch id; the merged sketch estimates
    running frequencies over everything streamed so far."""
    from ..operators.sketch import CMS_DEPTH, CMS_WIDTH, cms_registers

    depth = CMS_DEPTH if depth is None else depth
    width = CMS_WIDTH if width is None else width

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        regs = cms_registers(batch_df, value_col, depth, width)
        write_shard(regs, register_dir, batch_id)

    stream = file_stream(spark, EVENT_STREAM_SCHEMA, source_dir)
    return start_shard_stream(stream, checkpoint_dir, query_name, _write_batch)


def read_cms_estimate(
    spark: SparkSession,
    register_dir: str,
    probes: DataFrame,
    key_col: str,
    depth: int = None,
    width: int = None,
) -> DataFrame:
    """Frequency estimates for ``probes`` over all streamed input: shards
    merge by SUM (counts are additive across micro-batches), then the
    standard CMS min-over-rows probe."""
    from ..operators.sketch import CMS_DEPTH, CMS_WIDTH, cms_estimate

    depth = CMS_DEPTH if depth is None else depth
    width = CMS_WIDTH if width is None else width
    merged = read_merged(
        spark,
        register_dir,
        "r INT, bucket BIGINT, cnt BIGINT",
        lambda df: df.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt")),
    )
    return cms_estimate(merged, probes, key_col, depth, width)


def start_reservoir_register_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    register_dir: str,
    value_col: str = "user_id",
    k: int = None,
    group_cols: list[str] | None = None,
    query_name: str = "reservoir_registers",
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Streaming maintainer for the bottom-k reservoir family: each
    micro-batch lands ITS OWN bottom-k shard (≤ k rows per group), and
    readers merge-on-read. The hash keys are value-deterministic, so the
    merge (union → re-rank → keep k) is associative, order- and
    replay-insensitive — the same contract as the MAX-merged HLL shards,
    with rank-k instead of max as the fold."""
    from ..operators.sketch import RESERVOIR_K, reservoir_registers

    k = RESERVOIR_K if k is None else k
    group_cols = list(group_cols or [])

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        regs = reservoir_registers(batch_df, value_col, k, group_cols)
        write_shard(regs, register_dir, batch_id)

    stream = file_stream(spark, EVENT_STREAM_SCHEMA, source_dir, reader_options)
    return start_shard_stream(stream, checkpoint_dir, query_name, _write_batch)


def read_reservoir_sample(
    spark: SparkSession,
    register_dir: str,
    k: int = None,
    group_cols: list[str] | None = None,
    value_col: str = "user_id",
) -> DataFrame:
    """Current bottom-k sample over everything streamed so far — exactly
    equal to a batch ``reservoir_registers`` over the union of all
    micro-batch inputs (asserted in tests). ``value_col`` names the
    streamed column the registers sample: it types the shard's ``v``
    (a LongType default against event_type shards would misread them)."""
    from pyspark.sql import Window

    from ..operators.sketch import RESERVOIR_K

    k = RESERVOIR_K if k is None else k
    group_cols = list(group_cols or [])
    fields = [EVENT_STREAM_SCHEMA[c] for c in group_cols] + [
        T.StructField("pos", T.IntegerType()),
        T.StructField("v", EVENT_STREAM_SCHEMA[value_col].dataType),
        T.StructField("hk", T.LongType()),
    ]
    w = Window.partitionBy(*group_cols).orderBy("hk", "v")
    return read_merged(
        spark,
        register_dir,
        T.StructType(fields),
        lambda df: df.select(*group_cols, "v", "hk")
        .distinct()
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .select(*group_cols, "pos", "v", "hk"),
    )


def read_kmv_estimate(
    spark: SparkSession,
    register_dir: str,
    k: int = None,
    group_cols: list[str] | None = None,
    value_col: str = "user_id",
) -> DataFrame:
    """KMV distinct estimate over everything streamed so far, served off
    the merged reservoir shards."""
    from ..operators.sketch import RESERVOIR_K, kmv_distinct_from_registers

    k = RESERVOIR_K if k is None else k
    return kmv_distinct_from_registers(
        read_reservoir_sample(spark, register_dir, k, group_cols, value_col),
        k,
        list(group_cols or []),
    )
