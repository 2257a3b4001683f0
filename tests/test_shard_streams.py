"""The merge-on-read shard primitive (streaming/compaction.py) as every
``batch_id=N`` maintainer uses it: a reader's schema is the same before
and after the first commit, and the cluster refresh reads its delta
through the same complete-shard gate as every other reader."""

import json

import pytest

TS = "2024-01-01T10:00:00.000Z"


def _write_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _events(src):
    _write_json(
        src / "e1.json",
        [
            {"event_id": i, "ts": TS, "user_id": u, "event_type": t}
            for i, (u, t) in enumerate([(1, "click"), (2, "view"), (1, "view")])
        ],
    )


def _docs(src):
    text = "the quick brown fox jumps over the lazy dog again"
    _write_json(
        src / "d1.json",
        [{"doc_id": i, "ts": TS, "text": text} for i in (1, 2)],
    )


def _vecs(src):
    _write_json(
        src / "v1.json",
        [
            {"vec_id": i, "ts": TS, "embedding": [i / 10.0, -i / 10.0]}
            for i in range(4)
        ],
    )


def _hll(spark, src, ckpt, out):
    from client_data_ingester_spark.streaming import sketch_stream as S

    q = S.start_hll_register_stream(
        spark, src, ckpt, out, group_cols=["event_type"], query_name="s_hll"
    )
    return q, lambda: S.merged_registers(spark, out, ["event_type"])


def _cms(spark, src, ckpt, out):
    from client_data_ingester_spark.streaming import sketch_stream as S

    probes = spark.createDataFrame([(1,), (3,)], "user_id long")
    q = S.start_cms_register_stream(spark, src, ckpt, out, query_name="s_cms")
    return q, lambda: S.read_cms_estimate(spark, out, probes, "user_id")


def _reservoir(spark, src, ckpt, out):
    from client_data_ingester_spark.streaming import sketch_stream as S

    q = S.start_reservoir_register_stream(
        spark, src, ckpt, out, k=2, query_name="s_res"
    )
    return q, lambda: S.read_reservoir_sample(spark, out, k=2)


def _first_seen(spark, src, ckpt, out):
    from client_data_ingester_spark.streaming import users_stream as U

    q = U.start_first_seen_stream(spark, src, ckpt, out, query_name="s_fs")
    return q, lambda: U.merged_first_seen(spark, out)


def _codes(spark, src, ckpt, out):
    from client_data_ingester_spark.operators.similarity import pq_model
    from client_data_ingester_spark.streaming import pq_stream as P

    corpus = spark.createDataFrame(
        [(i, [i / 10.0, 1 - i / 10.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    _, books = pq_model(corpus, dim=2, m=1, k=2, n_iter=1)
    q = P.start_pq_encode_stream(
        spark, src, ckpt, out, books, dim=2, m=1, query_name="s_pq"
    )
    return q, lambda: P.read_codes(spark, out)


def _routed(spark, src, ckpt, out):
    from client_data_ingester_spark.operators.dedup import exploded_shingles
    from client_data_ingester_spark.operators.sketch import bloom_registers
    from client_data_ingester_spark.streaming import decontam_stream as D

    eval_docs = spark.createDataFrame(
        [(100, "an eval passage that never appears in the stream")],
        "doc_id long, text string",
    )
    bits = bloom_registers(
        exploded_shingles(eval_docs, "text", 3).select("sh"), "sh"
    )
    q = D.start_decontam_stream(
        spark, src, ckpt, f"{out}/clean", f"{out}/quar", bits,
        query_name="s_dc",
    )
    return q, lambda: D.read_routed(spark, f"{out}/clean")


def _bands(spark, src, ckpt, out):
    from client_data_ingester_spark.streaming import cluster_stream as C

    q = C.start_cluster_edge_stream(spark, src, ckpt, out, query_name="s_b")
    return q, lambda: C.merged_band_index(spark, f"{out}/bands")


def _edges(spark, src, ckpt, out):
    from client_data_ingester_spark.streaming import cluster_stream as C

    q = C.start_cluster_edge_stream(spark, src, ckpt, out, query_name="s_e")
    return q, lambda: C.merged_edges(spark, out)


@pytest.mark.parametrize(
    "land,start",
    [
        (_events, _hll),
        (_events, _cms),
        (_events, _reservoir),
        (_events, _first_seen),
        (_vecs, _codes),
        (_docs, _routed),
        (_docs, _bands),
        (_docs, _edges),
    ],
    ids=[
        "merged_registers",
        "read_cms_estimate",
        "read_reservoir_sample",
        "merged_first_seen",
        "read_codes",
        "read_routed",
        "merged_band_index",
        "merged_edges",
    ],
)
def test_reader_schema_is_stable_across_first_commit(
    spark, tmp_path, land, start
):
    """A poller that reads before the stream's first commit must see the
    schema (names and types) it will see after that commit."""
    src = tmp_path / "src"
    src.mkdir()
    q, read = start(spark, str(src), str(tmp_path / "ckpt"), str(tmp_path / "out"))
    try:
        q.processAllAvailable()  # nothing landed yet: no shard committed
        before = read()
        land(src)
        q.processAllAvailable()
    finally:
        q.stop()
    after = read()
    assert after.count() > 0

    def shape(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert shape(before) == shape(after)


def test_refresh_survives_compaction_between_listing_and_read(
    spark, tmp_path, monkeypatch
):
    """A compaction that folds edge shards after the refresh listed them
    must not break the refresh's delta read (the folded shards' old
    paths are gone), and the refreshed labeling must still equal the
    batch contraction of every streamed edge."""
    from client_data_ingester_spark.operators.dedup import (
        duplicate_clusters,
        load_cluster_index,
    )
    from client_data_ingester_spark.streaming import cluster_stream as C
    from client_data_ingester_spark.streaming.compaction import (
        compact_batch_shards,
    )

    src = tmp_path / "docs"
    src.mkdir()
    state = str(tmp_path / "state")
    path = str(tmp_path / "cluster_idx")
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "entirely different words about streaming cluster maintenance",
        "a third unrelated sentence on parquet shard compaction jobs",
    ]

    def run_stream(batches):
        # one file per micro-batch; each batch carries an in-batch pair
        # (so every edge shard holds rows), and batches 3 and 4 repeat
        # the texts of batches 0 and 1 (cross-batch cluster merges)
        for b in batches:
            _write_json(
                src / f"b{b}.json",
                [
                    {"doc_id": 10 * b + j, "ts": TS, "text": texts[b % 3]}
                    for j in (1, 2)
                ],
            )
        q = C.start_cluster_edge_stream(
            spark,
            str(src),
            str(tmp_path / "ckpt"),
            state,
            reader_options={"maxFilesPerTrigger": 1},
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream([0, 1])
    C.refresh_cluster_index(spark, state, path)  # cold build, watermark 1
    assert C._read_watermark(path) == 1
    run_stream([2, 3, 4])
    edges_dir = f"{state}/edges"
    assert C.batch_shard_ids(edges_dir) == [0, 1, 2, 3, 4]

    listing = C.batch_shard_ids

    def list_then_compact(shard_dir):
        ids = listing(shard_dir)
        assert compact_batch_shards(
            spark, shard_dir, keep_last=1, min_shards=2
        ) == 3
        return ids

    monkeypatch.setattr(C, "batch_shard_ids", list_then_compact)
    C.refresh_cluster_index(spark, state, path)  # warm path
    monkeypatch.undo()

    assert C._read_watermark(path) == 4
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in load_cluster_index(spark, path).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(C.merged_edges(spark, state)).collect()
    }
    assert got == want
    assert dict(got)[32] == dict(got)[1] and dict(got)[42] == dict(got)[11]
