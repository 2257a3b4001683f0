"""Streaming ingestion (SURVEY §2.9 / §7 Phase 4).

The reference's ingest is request-scoped batch (one uploaded file per call).
Here the same transaction is also exposed as Structured Streaming over a
landing directory: ``readStream`` (CSV/JSON file source) → ``foreachBatch``
running the batch path's own staging pass and commit loop
(``ingestion.service.stage_updates`` / ``commit_merge``), so a micro-batch
gets exactly the batch contract — validate-then-abort, the dense id block,
optimistic-concurrency retry. This module adds only what a stream needs:

- a row index: ``monotonically_increasing_id`` over the micro-batch;
- a dead-letter sink: a micro-batch the validation gate rejects changes
  zero rows and its raw rows land in ``dead_letter_dir`` (if configured)
  with the same reason text an upload's failure report carries;
- an epoch replay guard: the last applied epoch id is committed in the
  snapshot manifest's props atomically with the data publish, and a
  replayed micro-batch whose epoch is already recorded is a no-op. This
  covers the otherwise non-idempotent empty-sku always-insert rows, not
  just the keyed upserts. (Dead-letter writes sit outside that
  transaction — an error batch replayed after a crash can be dead-lettered
  twice; the TABLE is exactly-once, the error channel is at-least-once.)

Event-time windowed aggregation over the ``events`` table (watermarks, late
data) lives in streaming/events_stream.py, with its batch twins in
operators/events.py; this module is the ingest stream.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..ingestion.mapping import ParserConfig
from ..ingestion.parsers import ROW_IDX_COL
from ..ingestion.service import commit_merge, stage_updates
from ..tables.snapshot import SnapshotTable

_log = logging.getLogger(__name__)


def _landing_schema(columns: list[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def start_ingest_stream(
    spark: SparkSession,
    table: SnapshotTable,
    landing_dir: str,
    checkpoint_dir: str,
    parser_config: ParserConfig,
    client_id: int,
    source_columns: list[str],
    full_update: bool = False,
    fmt: str = "csv",
    dead_letter_dir: str | None = None,
    stream_id: str | None = None,
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Tail ``landing_dir`` for new files and merge each micro-batch.

    ``source_columns`` declares the landing files' header (streaming sources
    need a fixed schema up front; everything is read as string, same as the
    batch parser). ``stream_id`` keys the per-stream epoch ledger in the
    table manifest (defaults to the checkpoint path — override it if the
    checkpoint directory can move between runs). ``reader_options`` pass
    through to the file source — chiefly ``maxFilesPerTrigger``, the
    landing-zone rate limit that bounds micro-batch size (and so commit
    latency + merge-shuffle memory) when a backfill drops thousands of
    files at once; AvailableNow triggers honor it across batches."""
    schema = _landing_schema(source_columns)
    reader = spark.readStream.schema(schema)
    if fmt == "csv":
        # same CSV empty/null conventions as the batch path reader: quoted
        # "" survives as the empty string (always-insert sku), \N is null
        reader = (
            reader.option("header", True)
            .option("emptyValue", "")
            .option("nullValue", "\\N")
        )
    elif fmt != "json":
        raise ValueError(f"Unsupported streaming format: {fmt!r}")
    # applied AFTER the format defaults so callers can override any of
    # them (the pass-through contract above)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.csv(landing_dir) if fmt == "csv" else reader.json(landing_dir)

    txn_key = f"stream_epoch:{stream_id or os.path.abspath(checkpoint_dir)}"

    def dead_letter(batch_df: DataFrame, epoch_id: int, reason: str) -> None:
        _log.warning(
            "ingest stream %s epoch %d aborted, zero rows changed: %s",
            txn_key, epoch_id, reason,
        )
        if dead_letter_dir is None:
            return
        (
            batch_df.withColumn("_epoch", F.lit(epoch_id).cast("long"))
            .withColumn("_reason", F.lit(reason))
            .write.mode("append")
            .parquet(dead_letter_dir)
        )

    def replayed(epoch_id: int, manifest) -> bool:
        return int(epoch_id) <= int(manifest.props.get(txn_key, -1))

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty() or replayed(epoch_id, table.current_doc()):
            return
        # monotonically_increasing_id is legal here: batch_df is a plain
        # DataFrame inside foreachBatch
        raw = batch_df.withColumn(ROW_IDX_COL, F.monotonically_increasing_id())
        with stage_updates(raw, parser_config) as st:
            if st.reason is not None:
                dead_letter(batch_df, epoch_id, st.reason)
                return
            if st.processed_count == 0 and not full_update:
                return
            # an epoch replayed after a crash reserves a fresh block:
            # burned ids, never duplicate ones
            props = st.reserve_ids(table) | {txn_key: int(epoch_id)}

            def plan(manifest, current: DataFrame) -> DataFrame | None:
                # the replay guard is re-checked on EVERY attempt (r13): a
                # crash between the commit point and the pointer publish
                # leaves this epoch committed behind a stale pointer; the
                # replay's first attempt collides and heals the pointer,
                # and re-merging against the healed head would apply the
                # epoch twice
                if replayed(epoch_id, manifest):
                    return None
                return st.merge(current, client_id, full_update)

            commit_merge(spark, table, client_id, plan, props)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
