"""Streaming duplicate-cluster maintenance ([EXT]): keep the dedup
endgame's cluster labeling continuously up to date as documents arrive.

The batch side persists the cluster labeling as a build artifact
(operators/dedup.build_cluster_index); this module is its streaming twin,
built on the merge-on-read shard primitive of streaming/compaction.py
(``write_shard`` / ``read_merged``): each micro-batch signs ONLY its own
documents and lands two idempotent per-batch shards —

- ``state_dir/bands/batch_id=N``  — the batch's (doc_id, band, key) rows
  (the incremental LSH index: a band key is a per-document function, so
  indexing a batch never touches previously-indexed documents);
- ``state_dir/edges/batch_id=N``  — the batch's candidate edges: in-batch
  pairs plus batch-vs-standing-index pairs (one equi-join on (band, key)
  against the merged band shards of EARLIER batches only).

Readers contract the merged edge set with the batch operator
(``duplicate_clusters``), so the streamed labeling is EXACTLY the batch
labeling over everything streamed (asserted in tests): a shared band key
between two documents does not depend on what else is in the corpus, so
the union of per-batch edge shards IS the full-corpus candidate edge set
— including edges that MERGE clusters formed in earlier batches, which
pure assign-to-nearest incremental schemes get wrong.

Why this shape at scale:
- per-batch cost ∝ batch: one signing pass (reused for both the in-batch
  bucket expansion and the cross-index join), one hash join against a
  narrow 3-column index, two bounded shard writes; no read-modify-write
  of any corpus-sized state;
- replay-idempotent: both shards overwrite their own ``batch_id=N`` dir,
  and a replayed batch regenerates the same rows (band keys and edges
  are pure functions of the batch + earlier shards);
- the expensive step (iterative contraction) runs at READ/refresh time
  over the edge relation — candidate edges, not documents — and lands in
  the same persisted artifact the batch endgame probes
  (``refresh_cluster_index``), so downstream consumers never re-contract.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.ckpt import pin
from ..operators.dedup import (
    build_cluster_index,
    duplicate_clusters,
    incremental_lsh_star_edges,
    load_cluster_index,
    lsh_spanning_edges,
    minhash_band_keys,
    warm_start_clusters,
)
from .compaction import (
    batch_shard_ids,
    file_stream,
    read_merged,
    start_shard_stream,
    write_shard,
)
from .dedup_stream import DOC_STREAM_SCHEMA

# shard schemas; both readers filter on the batch_id partition column
_EDGE_SCHEMA = "doc_a long, doc_b long, batch_id int"
_BAND_SCHEMA = "doc_id long, band int, key string, batch_id int"


def start_cluster_edge_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    num_perm: int = 4,
    bands: int = 2,
    query_name: str = "cluster_edges",
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Tail a directory of document json files; per micro-batch, append
    the batch's band keys and candidate edges as idempotent shards."""
    bands_dir = f"{state_dir}/bands"
    edges_dir = f"{state_dir}/edges"

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        # sign ONCE: the bands-shard write materializes the signing pass,
        # and both edge sources below read the WRITTEN shard back — the
        # shingle-explode + minhash pipeline runs exactly one job per
        # batch instead of once per downstream action
        signed = minhash_band_keys(docs, num_perm=num_perm, bands=bands)
        keys = spark.read.parquet(write_shard(signed, bands_dir, batch_id))
        # STAR edges, not pair expansion — the only consumers of the
        # edge shards are connected components (merged_clusters /
        # refresh), which need the buckets connected, not enumerated:
        # in-batch O(bucket) stars + ONE cross anchor per (new doc,
        # bucket) span the same components as the full emission (the
        # arrival-order induction in incremental_lsh_star_edges; the
        # streamed==batch equality test pins it), and steady-state
        # per-batch edge volume drops from Θ(batch × standing cluster)
        # to O(batch × bands).
        within = lsh_spanning_edges(
            docs, num_perm=num_perm, bands=bands, band_keys=keys
        )
        # standing index = shards of STRICTLY EARLIER batches (the batch's
        # own shard may already exist on a crash replay — excluding it
        # keeps in-batch edges single-sourced from the bucket expansion)
        index = merged_band_index(spark, bands_dir, before_batch=batch_id)
        cross = incremental_lsh_star_edges(
            docs, index, num_perm=num_perm, bands=bands, band_keys=keys
        )
        write_shard(within.unionByName(cross).distinct(), edges_dir, batch_id)

    stream = file_stream(spark, DOC_STREAM_SCHEMA, source_dir, reader_options)
    return start_shard_stream(stream, checkpoint_dir, query_name, _write_batch)


def compact_cluster_state(
    spark: SparkSession,
    state_dir: str,
    keep_last: int = 1,
    min_shards: int = 8,
) -> dict:
    """Bound the read-side shard count of BOTH accumulating artifacts
    (bands, edges) with the shared batch-shard compactor — run from a
    maintenance schedule so N streamed batches cost O(cadence) dirs to
    read, not O(N). Safe with the incremental contract: band keys and
    edges are set-merged on read (collect_set buckets / distinct edges),
    the fold never touches the newest ``keep_last`` shards (the only
    replay candidates), ``before_batch`` pruning still sees every folded
    row below the replayed id, and ``refresh_cluster_index``'s watermark
    tolerates re-surfaced folded edges because ``warm_start_clusters``
    is at-least-once-exact (already-closed edges vanish into their
    root). Returns {"bands": folded_id|None, "edges": folded_id|None}."""
    from .compaction import compact_batch_shards

    return {
        "bands": compact_batch_shards(
            spark, f"{state_dir}/bands", keep_last, min_shards
        ),
        "edges": compact_batch_shards(
            spark, f"{state_dir}/edges", keep_last, min_shards
        ),
    }


def merged_band_index(
    spark: SparkSession, bands_dir: str, before_batch: int | None = None
) -> DataFrame:
    """All band-key shards folded to one (doc_id, band, key) index
    (merge-on-read; keys are per-document, so plain union is the merge).
    ``before_batch`` restricts to shards of strictly earlier batches.
    Empty before the first commit (the nothing-indexed-yet state)."""

    def merge(df: DataFrame) -> DataFrame:
        if before_batch is not None:
            df = df.filter(F.col("batch_id") < before_batch)
        return df.select("doc_id", "band", "key")

    return read_merged(spark, bands_dir, _BAND_SCHEMA, merge)


def merged_edges(spark: SparkSession, state_dir: str) -> DataFrame:
    """The cumulative candidate-edge relation across all streamed batches
    (distinct union of shards — replays overwrite their own dir, and the
    read-side distinct absorbs any overlap)."""
    return read_merged(
        spark,
        f"{state_dir}/edges",
        _EDGE_SCHEMA,
        lambda df: df.select("doc_a", "doc_b").distinct(),
    )


def merged_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, cluster_id) over everything streamed so far — the batch
    contraction run on the merged edge set, so the result is EXACTLY
    what ``duplicate_clusters`` over a full re-run would produce,
    including merges of clusters first formed in different batches."""
    edges = merged_edges(spark, state_dir)
    if edges.isEmpty():
        return spark.createDataFrame([], "doc_id long, cluster_id long")
    return duplicate_clusters(edges)


def _watermark_path(path: str) -> str:
    # underscore-prefixed files inside a parquet dir are ignored by reads
    return os.path.join(path, "_refresh_watermark.json")


def _read_watermark(path: str) -> int | None:
    """Highest edge batch_id already folded into the artifact at ``path``
    (None = no warm-startable artifact)."""
    try:
        with open(_watermark_path(path)) as fh:
            return int(json.load(fh)["max_batch_id"])
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return None


def _write_watermark(path: str, max_batch_id: int) -> None:
    with open(_watermark_path(path), "w") as fh:
        json.dump({"max_batch_id": max_batch_id}, fh)


def refresh_cluster_index(
    spark: SparkSession,
    state_dir: str,
    path: str,
    reliable: bool = False,
) -> None:
    """Land the streamed labeling in the SAME persisted-artifact format
    the batch endgame probes (``load_cluster_index``) — the maintenance
    job that keeps the write-time cluster index current between full
    rebuilds.

    WARM-STARTED: the artifact carries a ``_refresh_watermark.json``
    recording the highest edge batch_id it has folded in. A refresh reads
    ONLY the edge shards above the watermark (a ``batch_id`` partition
    filter over the complete shards) and folds them into the previous
    labeling with ``warm_start_clusters``, so the iterative contraction
    runs over the delta super-graph, not the accumulated corpus edge set.
    A compaction landing between the listing and the read only moves
    folded edges into a higher shard, which the warm start absorbs. The
    first refresh (no watermark) is the cold build. Exactly
    batch-equivalent either way (property-tested: streamed+refreshed ==
    full recompute, including cross-refresh cluster merges)."""
    batch_ids = batch_shard_ids(f"{state_dir}/edges")
    if not batch_ids:
        build_cluster_index(merged_edges(spark, state_dir), path)
        return
    last = _read_watermark(path)
    if last is None:
        build_cluster_index(merged_edges(spark, state_dir), path)
        _write_watermark(path, batch_ids[-1])
        return
    if batch_ids[-1] <= last:
        return  # nothing new; artifact already current
    new_edges = read_merged(
        spark,
        f"{state_dir}/edges",
        _EDGE_SCHEMA,
        lambda df: df.filter(F.col("batch_id") > last)
        .select("doc_a", "doc_b")
        .distinct(),
    )
    old = load_cluster_index(spark, path)
    # materialize BEFORE the overwrite (the new labels derive from the
    # files the write is about to replace); reliable=True routes the
    # pin through the durable checkpoint dir so a cluster refresh
    # survives executor loss between the read and the overwrite
    updated = pin(
        warm_start_clusters(old, new_edges, reliable=reliable), reliable
    )
    updated.write.mode("overwrite").parquet(path)
    _write_watermark(path, batch_ids[-1])
