"""Metric names, units and the statistics the runner reports.

``END_TO_END`` and ``PER_LAYER`` mirror ``BENCHMARK.json``; every run
prints all of one list (``--trace 0``: end-to-end, ``--trace 1``:
per-layer). A per-layer metric of a layer the workload never enters reads
0, which is the true count or time for that layer.
"""

from __future__ import annotations

import math
import statistics

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "ops_per_s": "1/s",
}

# Each workload's own named metrics, printed in the detail line.
DETAIL_UNITS = {
    "setup_s": "s", "op_fail_frac": "ratio", "peak_rss_mb": "MB",
    "ingest_p50_s": "s", "ingest_tail_s": "s", "ingest_rows_per_s": "1/s",
    "readback_p50_s": "s", "space_amp": "ratio",
    "search_p50_s": "s", "search_tail_s": "s", "search_per_s": "1/s",
    "board_total_s": "s", "board_geomean_s": "s",
    "batch_p50_s": "s", "batch_tail_s": "s", "stream_rows_per_s": "1/s",
}

FAMILIES = (
    "relational", "dedup", "similarity", "text", "sketch", "corpus", "dq",
    "profile", "multimodal", "events", "export", "skew", "ckpt",
)
STREAMS = ("ingest", "dedup", "hll")

PER_LAYER = {
    "session.start_s": "s", "setup.seed_s": "s", "setup.artifacts_s": "s",
    "setup.warmup_s": "s",
    "web.self_s": "s", "web.requests": "count",
    "ingestion.parse_s": "s", "ingestion.self_s": "s", "ingestion.job_s": "s",
    "ingestion.driver_s": "s", "ingestion.spark_jobs": "count",
    "ingestion.spark_tasks": "count", "ingestion.py4j_calls": "count",
    "ingestion.conflict_rounds": "count", "ingestion.shuffle_bytes": "bytes",
    "tables.current_doc_s": "s", "tables.current_doc_calls": "count",
    "tables.read_s": "s", "tables.read_calls": "count",
    "tables.reserve_id_block_s": "s", "tables.overwrite_partitions_s": "s",
    "tables.overwrite_partitions_calls": "count", "tables.bytes_written": "bytes",
    "tables.files_written": "count", "tables.write_amp": "ratio",
    "queries.plan_s": "s", "queries.exec_s": "s", "queries.spark_jobs": "count",
    "queries.spark_tasks": "count", "queries.py4j_calls": "count",
    "queries.rows_scanned_per_row_returned": "ratio",
    "sources.load_s": "s", "sources.load_calls": "count",
    "operators.build_s": "s", "operators.exec_s": "s",
    "operators.py4j_calls": "count", "operators.spark_jobs": "count",
    "operators.spark_tasks": "count", "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s", "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.input_rows": "count",
    **{f"operators.{f}.{m}": u for f in FAMILIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("spark_tasks", "count"))},
    **{f"streaming.{s}.{m}": u for s in STREAMS
       for m, u in (("trigger_s", "s"), ("add_batch_s", "s"),
                    ("query_planning_s", "s"), ("wal_commit_s", "s"),
                    ("input_rows", "count"))},
    "trace.overhead_frac": "ratio",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def kind_median(walls_by_kind: dict) -> float:
    """The mean, over the kinds of operation, of each kind's median wall.
    With one kind it is the median; with several (the board entries), each
    kind weighs the same however many of it a run reached, so a run that
    ends one step earlier or later is not read as slower or faster."""
    return statistics.fmean(median(v) for v in walls_by_kind.values()) if walls_by_kind else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def tail(xs) -> dict:
    """The highest percentile with at least 10 samples above it (nearest
    rank). With 10 or fewer samples there is none; the maximum is given
    with ``above`` saying how many samples lie beyond it (0)."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "percentile": None, "n": 0, "above": 0}
    i = max(n - 11, 0) if n > 10 else n - 1
    return {"value": xs[i], "percentile": round(100.0 * (i + 1) / n, 1),
            "n": n, "above": n - 1 - i}


def metric(value: float, unit: str, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}
