"""Event-time windowed streaming aggregation ([EXT], SURVEY §2.9).

The streaming twin of operators/events.tumbling_window_agg: watermarked
event-time tumbling windows over a parquet/file event stream. The watermark
bounds state (windows older than max(event_time) - delay are finalized and
dropped from the state store) and defines the late-data cutoff — records
later than the watermark are discarded rather than reopening closed windows.

In append mode a window only emits once the watermark passes its end, which
is what makes the output exactly-once-complete per window; per-microbatch
atomicity comes from the sink (foreachBatch → snapshot swap, or a
transactional sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .compaction import file_stream
from .sketch_stream import EVENT_STREAM_SCHEMA

# ONE definition of the core event fields (sketch_stream owns the shared
# subset; users_stream reads it too) — the full schema only ADDS the
# payload columns, so a field rename/widening lands in every stream twin
# instead of drifting between hand-kept copies.
EVENT_SCHEMA = T.StructType(
    list(EVENT_STREAM_SCHEMA.fields)
    + [
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def windowed_event_counts(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked window aggregation (streaming-safe plan): tumbling by
    default, hopping when ``slide`` < ``window_duration`` (each event lands
    in size/slide windows — the streaming twin of
    operators/events.hopping_window_agg)."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(
            F.window(
                F.col("ts"), window_duration, slide or window_duration
            ).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal fold, DOUBLE output — the module-wide
            # canonical numeric rendering the batch twins use; the outer
            # decimal cast also narrows (sum of (18,2) is (28,2)), which
            # under ANSI would ABORT the long-lived query on overflow
            # where the double cast cannot fail
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming gap-based sessionization via the native session_window —
    the streaming twin of operators/events.sessionize (which is the batch
    lag+cumsum form). A session closes when a user is idle > gap and emits
    once the watermark passes its end."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal fold, DOUBLE output — the module-wide
            # canonical numeric rendering the batch twins use; the outer
            # decimal cast also narrows (sum of (18,2) is (28,2)), which
            # under ANSI would ABORT the long-lived query on overflow
            # where the double cast cannot fail
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def start_windowed_event_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "windowed_events",
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> StreamingQuery:
    """Tail a directory of event json files → memory sink (append mode: a
    window emits only after the watermark passes it). Drive deterministically
    with ``q.processAllAvailable()`` after dropping files in; the memory sink
    does not support checkpoint recovery, so tests keep one long-lived query
    rather than restarting (a durable sink would restart via foreachBatch +
    the checkpoint, as ingest_stream does)."""
    agg = windowed_event_counts(
        file_stream(spark, EVENT_SCHEMA, source_dir),
        window_duration,
        watermark_delay,
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
