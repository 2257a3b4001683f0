"""Sanity tests for the [EXT] operators (full value-level correctness is
covered by the DuckDB oracle harness, tools/check_correctness.py)."""

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from client_data_ingester_spark.operators import dedup as D
from client_data_ingester_spark.operators import multimodal as M
from client_data_ingester_spark.operators import similarity as S
from client_data_ingester_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark engines here"),
        (5, "  The  QUICK brown fox jumps over the lazy dog  "),  # ws/case dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_normalizes(docs):
    out = {r["keeper_id"]: r["n_copies"] for r in D.exact_duplicates(docs).collect()}
    assert out[1] == 3  # docs 1, 2, 5 collapse
    assert out[3] == 1 and out[4] == 1


def test_lsh_finds_near_dups_and_jaccard_orders_them(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(docs, num_perm=4, bands=4).collect()
    }
    assert (1, 2) in pairs and (1, 5) in pairs  # identical docs always collide
    jac = {
        (r["doc_a"], r["doc_b"]): float(r["jaccard"])
        for r in D.jaccard_pairs(docs, D.lsh_candidate_pairs(docs, 'text', 4, 4)).collect()
    }
    assert jac[(1, 2)] == 1.0
    if (1, 3) in jac:
        assert jac[(1, 3)] < 1.0


def test_simhash_identical_docs_collide(docs):
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert fp[1] == fp[2] == fp[5]
    assert fp[1] != fp[4]


def test_minhash_signature_shape(docs):
    sig = D.minhash_signatures(docs, num_perm=4).collect()
    assert len(sig) == 5
    assert all(len(r) == 5 for r in sig)  # doc_id + 4 hashes
    by_id = {r["doc_id"]: r for r in sig}
    assert by_id[1]["minhash_0"] == by_id[2]["minhash_0"]


def test_brute_force_topk_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]
    assert float(out[0]["score"]) > 0.99


def test_ivf_topk_probes_subset(spark):
    rows = [(i, [float(i % 5), 1.0, 0.5 * (i % 3)], i % 5) for i in range(50)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ivf_topk(emb, q, k=3, nprobe=2).collect()
    assert len(out) == 3


def test_language_id_picks_stopword_language(spark):
    rows = [
        (1, "the cat and the dog in the house"),
        (2, "der hund und die katze ist hier"),
        (3, "xyzzy plugh qwerty"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in X.identify_language(docs).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_quality_and_tokens(spark):
    docs = spark.createDataFrame(
        [(1, "a clean simple sentence with the usual words"),
         (2, "!!! ### $$$ 123 456 789 !!!")],
        "doc_id long, text string",
    )
    qs = {r["doc_id"]: r for r in X.quality_scores(docs).collect()}
    assert float(qs[1]["quality_score"]) > float(qs[2]["quality_score"])
    tc = {r["doc_id"]: r for r in X.token_counts(docs).collect()}
    assert tc[1]["ws_tokens"] == 8
    assert tc[2]["re_tokens"] > tc[2]["ws_tokens"]  # symbols split apart


def test_multimodal_plumbing_roundtrip(spark):
    docs = spark.createDataFrame(
        [(i, f"payload number {i}") for i in range(9)], "doc_id long, text string"
    )
    media = M.attach_media_columns(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = M.extract_features(media, decode_stub=True).collect()
    assert len(feats) == 9
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[0]["kind"] == "image" and by_id[1]["kind"] == "audio"
    assert all(0.0 <= r["feat_mean"] <= 1.0 for r in feats)
    assert all(r["feat_dim"] == 8 for r in feats)
    frames = M.frame_sample(media, every_n=10)
    assert frames.columns == ["media_id", "frame_idx", "n_frames"]
    assert frames.filter(F.col("frame_idx") % 10 != 0).count() == 0
    # zero-frame / unknown-frame-count videos emit NO sampled frames (a
    # phantom frame_idx=0 row would index into an empty container)
    degenerate = spark.createDataFrame(
        [(99, "video", 0), (98, "video", None)],
        "media_id long, kind string, nf int",
    ).select(
        "media_id", "kind", F.struct(F.col("nf").alias("n_frames")).alias("meta")
    )
    assert M.frame_sample(degenerate).count() == 0


def test_real_decode_raises_not_implemented(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    media = M.attach_media_columns(docs)
    import pytest as _pytest

    with _pytest.raises(Exception):
        M.extract_features(media, decode_stub=False).collect()


def test_pandas_udf_scoring_matches_expression_path(spark):
    rows = [(i, [float(i), 1.0, 2.0]) for i in range(1, 6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [1.0, 0.5, 0.25]
    pandas_scores = {
        r["vec_id"]: r["score"]
        for r in S.cosine_scores_pandas(emb, qv).collect()
    }
    q = spark.createDataFrame([(0, qv)], "query_id long, embedding array<float>")
    expr_scores = {
        r["neighbor_id"]: float(r["score"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    for vid, s_expr in expr_scores.items():
        assert abs(pandas_scores[vid] - s_expr) < 1e-6


def test_rp_band_keys_rejects_dim_mismatch(spark):
    """zip_with silently null-pads a short embedding (sign bit collapses to
    0); the dim assert must fail fast instead of silently diverging."""
    import pytest
    from pyspark.sql import functions as F

    from client_data_ingester_spark.operators.similarity import rp_band_keys

    bad = spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),  # dim 2, not 64
    )
    with pytest.raises(Exception, match="embedding dim"):
        rp_band_keys(bad).collect()


def test_hopping_window_membership(spark):
    """An event at 10:15 belongs to exactly the [9:30,10:30) and
    [10:00,11:00) hour windows when sliding by 30 minutes."""
    import datetime

    from pyspark.sql import functions as F

    from client_data_ingester_spark.operators.events import hopping_window_agg

    df = spark.createDataFrame(
        [(1, 1, "click", "0.50", datetime.datetime(2024, 1, 1, 10, 15))],
        "event_id long, user_id long, event_type string, value string, ts timestamp",
    )
    rows = hopping_window_agg(df).collect()
    starts = sorted(r["window_start"] for r in rows)
    assert starts == [
        datetime.datetime(2024, 1, 1, 9, 30),
        datetime.datetime(2024, 1, 1, 10, 0),
    ]
    assert all(
        (r["window_end"] - r["window_start"]).total_seconds() == 3600
        for r in rows
    )
    assert all(r["n_events"] == 1 and r["sum_value"] == 0.5 for r in rows)


def test_grouping_sets_shape(spark):
    """GROUPING SETS emits each marginal + grand total — NOT the cube's
    cross product — and grouping_id says which set produced the row."""
    from pyspark.sql import functions as F

    from client_data_ingester_spark.operators.relational import (
        status_priority_grouping_sets,
    )

    df = spark.createDataFrame(
        [("O", "1-URGENT", "10.00"), ("F", "1-URGENT", "20.00"),
         ("O", "2-HIGH", "30.00")],
        "o_orderstatus string, o_orderpriority string, o_totalprice string",
    )
    rows = status_priority_grouping_sets(df).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    # gid 1 (priority rolled up): one row per status; gid 2: per priority;
    # gid 3: grand total; gid 0 (full cross) absent
    assert set(by_gid) == {1, 2, 3}
    assert {r["o_orderstatus"] for r in by_gid[1]} == {"O", "F"}
    assert {r["o_orderpriority"] for r in by_gid[2]} == {"1-URGENT", "2-HIGH"}
    total = by_gid[3][0]
    assert total["n"] == 3 and total["total"] == 60.0


def test_hash_split_deterministic_and_stable(spark):
    """The split must be a pure function of the id: identical across runs
    and repartitionings, ~train_pct% train."""
    from client_data_ingester_spark.operators.text import hash_split

    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7)).collect()
    }
    assert a == b
    train_frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < train_frac < 0.9


def test_leakage_safe_split_never_straddles_clusters(spark):
    """The leakage guard itself: every member of a near-dup cluster gets
    the SAME split (an id-hash split would scatter them), singletons get
    exactly the hash_split assignment (adopting the safe split only
    reassigns docs that have duplicates), and the cluster key is the
    labeling's deterministic min-id (see the operator docstring for the
    cluster-merge re-keying caveat)."""
    from client_data_ingester_spark.operators.dedup import duplicate_clusters
    from client_data_ingester_spark.operators.text import (
        hash_split,
        leakage_safe_split,
    )

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    # chained clusters {0..4}, {50,51}, and a 2-cycle {60,61}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (50, 51), (60, 61), (61, 60)],
        "doc_a long, doc_b long",
    )
    clusters = duplicate_clusters(pairs)
    out = {
        r["doc_id"]: (r["split_key"], r["split"])
        for r in leakage_safe_split(docs, clusters).collect()
    }
    assert len(out) == 200
    for members in ([0, 1, 2, 3, 4], [50, 51], [60, 61]):
        keys = {out[m][0] for m in members}
        splits = {out[m][1] for m in members}
        assert keys == {min(members)}, members
        assert len(splits) == 1, members
    plain = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    clustered = {0, 1, 2, 3, 4, 50, 51, 60, 61}
    for d in range(200):
        if d not in clustered:
            assert out[d] == (d, plain[d]), d
    train_frac = sum(1 for v in out.values() if v[1] == "train") / len(out)
    assert 0.6 < train_frac < 0.95


def test_pack_sequences_budget_and_order(spark):
    """Packing is the running-token-count quotient: doc order by id,
    shard = floor(tokens_before / budget), pos = rank inside shard — and
    identical across repartitionings (the distributed prefix-sum must not
    depend on physical partitioning)."""
    from client_data_ingester_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 30)) for i in range(1, 11)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"], r["pos"])
        for r in pack_sequences(docs, budget_tokens=100).collect()
    }
    # 30 tokens each: before = (id-1)*30 → shards of 4,3,3 docs
    assert out == {
        1: (30, 0, 1), 2: (30, 0, 2), 3: (30, 0, 3), 4: (30, 0, 4),
        5: (30, 1, 1), 6: (30, 1, 2), 7: (30, 1, 3),
        8: (30, 2, 1), 9: (30, 2, 2), 10: (30, 2, 3),
    }
    again = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"], r["pos"])
        for r in pack_sequences(
            docs.repartition(7), budget_tokens=100
        ).collect()
    }
    assert again == out
    # chunk boundaries (chunk_size smaller than corpus) must not change
    # the global packing
    chunked = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"], r["pos"])
        for r in pack_sequences(
            docs, budget_tokens=100, chunk_size=3
        ).collect()
    }
    assert chunked == out


def test_packed_shard_texts_orders_docs_within_shards(spark):
    """Shard text = member docs joined in pos order; token/doc counts add
    up. 30-token docs at budget 100 → shards of 4/3/3 (see pack test)."""
    import hashlib

    from client_data_ingester_spark.operators.text import packed_shard_texts

    texts = {i: " ".join([f"w{i}"] * 30) for i in range(1, 11)}
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    rows = {
        r["shard_id"]: r
        for r in packed_shard_texts(docs, budget_tokens=100).collect()
    }
    assert {s: (rows[s]["n_docs"], rows[s]["shard_tokens"]) for s in rows} == {
        0: (4, 120), 1: (3, 90), 2: (3, 90),
    }
    expect0 = "\n".join(texts[i] for i in (1, 2, 3, 4))
    assert rows[0]["text_md5"] == hashlib.md5(expect0.encode()).hexdigest()


def test_retained_corpus_keeps_singletons_and_representatives(spark):
    """Retention = all unclustered docs + exactly one rep per cluster, and
    every cluster still has a surviving member."""
    from client_data_ingester_spark.operators.dedup import (
        cluster_representatives,
        lsh_candidate_pairs,
        retained_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "tail"),          # near-dup of 1
            (3, "completely different words entirely here now"),
            (4, base + "tail more"),     # near-dup chain
        ],
        "doc_id long, text string",
    )
    pairs = lsh_candidate_pairs(docs, num_perm=4, bands=2)
    kept = {r["doc_id"] for r in retained_corpus(docs, pairs).collect()}
    reps = {
        r["rep_doc_id"]
        for r in cluster_representatives(docs, pairs).collect()
    }
    clustered = {
        r[c]
        for r in pairs.collect()
        for c in ("doc_a", "doc_b")
    }
    # singletons always kept; clustered docs kept iff representative
    singles = {1, 2, 3, 4} - clustered
    assert kept == singles | (clustered & reps)
    assert reps <= kept and 3 in kept
    """Keep/drop is a pure id-hash decision honoring per-language rates:
    en=100% all kept, rate-0 strata drop entirely, and the sample is
    identical across runs and repartitionings."""
    from client_data_ingester_spark.operators.text import mixture_sample

    docs = spark.createDataFrame(
        [(i, "the and of to in is it for on with") for i in range(50)]
        + [(100 + i, "qqq zzz xxx") for i in range(50)],
        "doc_id long, text string",
    )
    rates = {"en": 100, "und": 0}
    a = {r["doc_id"] for r in mixture_sample(docs, rates).collect()}
    assert a == set(range(50))  # every en doc kept, every und doc dropped
    b = {
        r["doc_id"]
        for r in mixture_sample(docs.repartition(9), rates).collect()
    }
    assert b == a
    # partial rate keeps a ~matching fraction, deterministically
    half = {
        r["doc_id"]
        for r in mixture_sample(docs, {"en": 50, "und": 0}).collect()
    }
    assert half <= set(range(50)) and 10 <= len(half) <= 40


def test_quality_stratified_topk_per_stratum(spark):
    from client_data_ingester_spark.operators.text import (
        quality_stratified_topk,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = quality_stratified_topk(docs, k=10).collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r["pred_lang"], []).append(r)
    assert len(per_lang) > 1  # multiple strata survive
    for lang, rs in per_lang.items():
        assert len(rs) <= 10
        scores = [r["quality_score"] for r in sorted(rs, key=lambda r: r["rnk"])]
        assert scores == sorted(scores, reverse=True)


def test_cluster_index_roundtrip_equals_inline(spark, tmp_path):
    """The persisted cluster artifact must be EXACTLY the inline
    contraction's labeling (build → load is lossless), and the
    clusters= consumers must produce identical results either way —
    the invariant that makes swapping the endgame onto the artifact a
    pure optimization. Random-ish edge set with chains, a cycle, and
    singleton-free isolation."""
    from client_data_ingester_spark.operators.dedup import (
        build_cluster_index,
        cluster_representatives,
        duplicate_clusters,
        load_cluster_index,
    )

    edges = [(2, 5), (5, 9), (9, 11), (11, 2), (20, 30), (30, 41), (50, 51)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    inline = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(pairs).collect()
    }
    path = str(tmp_path / "clusters")
    build_cluster_index(pairs, path)
    persisted = {
        (r["doc_id"], r["cluster_id"])
        for r in load_cluster_index(spark, path).collect()
    }
    assert persisted == inline

    docs = spark.createDataFrame(
        [(i, f"text of doc {i} with several words") for i in
         (2, 5, 9, 11, 20, 30, 41, 50, 51, 99)],
        "doc_id long, text string",
    )
    via_pairs = sorted(
        map(tuple, cluster_representatives(docs, pairs).collect())
    )
    via_artifact = sorted(
        map(
            tuple,
            cluster_representatives(
                docs, clusters=load_cluster_index(spark, path)
            ).collect(),
        )
    )
    assert via_pairs == via_artifact


def test_duplicate_clusters_transitive(spark):
    """A~B and B~C must land A, B, C in ONE cluster labeled min(id), even
    though (A, C) was never a candidate pair; disjoint pairs stay apart."""
    from client_data_ingester_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (20, 30), (9, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {2: 2, 5: 2, 9: 2, 11: 2, 20: 20, 30: 20}


def test_duplicate_clusters_deep_chain_converges_sublinearly(spark):
    """A 100-node chain (diameter 99) must cluster within max_iter=10:
    min-label propagation moves the minimum one hop per round and would
    need ~99 rounds, so passing at 10 pins the O(log n) large-star/
    small-star contraction — a deep component is no longer an operational
    cliff at the default budget. ``local_max_edges=0`` forces the
    distributed rounds (the driver-side fast path would hide them)."""
    from client_data_ingester_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(
            pairs, max_iter=10, local_max_edges=0
        ).collect()
    }
    assert got == {i: 0 for i in range(101)}


def test_duplicate_clusters_local_and_distributed_paths_agree(spark):
    """The size-gated driver-side fast path and the large-star/small-star
    rounds must be the SAME function: randomized multigraphs (chains,
    cycles, dups, reversed edges) solved both ways and against an
    independent union-find oracle."""
    import random

    from client_data_ingester_spark.operators.dedup import duplicate_clusters

    def uf(edges):
        parent = {}

        def find(x):
            r = x
            while parent.setdefault(r, r) != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {(n, find(n)) for n in parent}

    rng = random.Random(20260816)
    for _ in range(4):
        edges = [
            (rng.randint(0, 60), rng.randint(0, 60)) for _ in range(120)
        ]
        real = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        local = {
            (r["doc_id"], r["cluster_id"])
            for r in duplicate_clusters(pairs).collect()
        }
        dist = {
            (r["doc_id"], r["cluster_id"])
            for r in duplicate_clusters(pairs, local_max_edges=0).collect()
        }
        assert local == dist == uf(real)


def test_duplicate_clusters_local_path_schema_and_empties(spark):
    """Fast-path output must carry the INPUT id type (an int32 edge list
    must not silently widen to long and break a downstream join), and a
    pairs relation that is empty — or all self-loops — must yield an
    empty labeling on both paths."""
    from client_data_ingester_spark.operators.dedup import duplicate_clusters

    ints = spark.createDataFrame([(1, 2), (2, 3)], "doc_a int, doc_b int")
    out = duplicate_clusters(ints)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "int", "int",
    ]
    assert {(r[0], r[1]) for r in out.collect()} == {(1, 1), (2, 1), (3, 1)}

    for rows in ([], [(7, 7), (9, 9)]):
        empty = spark.createDataFrame(rows, "doc_a long, doc_b long")
        assert duplicate_clusters(empty).count() == 0
        assert duplicate_clusters(empty, local_max_edges=0).count() == 0


# ---------------------------------------------------------------------------
# corpus curation operators


def test_repetition_scores_flag_loops(spark):
    from client_data_ingester_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "five totally distinct words here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in C.repetition_scores(docs).collect()}
    # doc 1: 4 words, 1 distinct; all three 2-grams are "spam spam"
    assert out[1]["n_words"] == 4 and out[1]["n_distinct_words"] == 1
    assert out[1]["dup_word_frac"] == 0.75
    assert out[1]["top_gram_frac"] == 1.0
    assert out[1]["rep_gram_frac"] == 1.0
    # doc 2: fully unique words and grams
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top_gram_frac"] == 0.25  # 1 of 4 gram occurrences
    assert out[2]["rep_gram_frac"] == 0.0


def test_boilerplate_ratio_counts_corpus_common_shingles(spark):
    from client_data_ingester_spark.operators import corpus as C

    footer = "all rights reserved by the template"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {footer}"),
            (2, f"epsilon zeta eta theta {footer}"),
            (3, f"iota kappa lambda mu {footer}"),
            (4, "completely original body text only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in C.boilerplate_scores(docs, df_threshold=3).collect()
    }
    # the footer's interior shingles hit df=3; each doc's unique head does not
    assert out[1]["n_boilerplate"] > 0
    assert out[1]["n_boilerplate"] == out[2]["n_boilerplate"]
    assert out[4]["n_boilerplate"] == 0 and out[4]["boilerplate_ratio"] == 0.0


def test_contamination_identical_docs_fully_contaminated(spark):
    from client_data_ingester_spark.operators import corpus as C
    from client_data_ingester_spark.operators.text import hash_split

    # 40 byte-identical docs: hash_split will put some in each bucket, and
    # every eval doc's shingle set is then fully present in train
    docs = spark.createDataFrame(
        [(i, "one common body of shared text repeated") for i in range(40)],
        "doc_id long, text string",
    )
    splits = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert "train" in splits.values() and "eval" in splits.values()
    out = C.contamination_check(docs).collect()
    assert {r["doc_id"] for r in out} == {
        i for i, s in splits.items() if s == "eval"
    }
    assert all(r["contamination_ratio"] == 1.0 for r in out)


def test_tfidf_prefers_rare_terms(spark):
    from client_data_ingester_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "shared shared unicorn"),
            (2, "shared shared common"),
            (3, "shared shared common"),
        ],
        "doc_id long, text string",
    )
    top = {
        r["doc_id"]: r
        for r in C.tfidf_top_terms(docs, top_k=1).collect()
    }
    # doc 1: 'unicorn' (tf 1, df 1, score 3) beats 'shared' (tf 2, df 3, 2)
    assert top[1]["term"] == "unicorn"
    assert top[1]["score"] == 3.0


def test_cluster_representatives_pick_best_quality_member(spark):
    from client_data_ingester_spark.operators.dedup import (
        cluster_representatives,
    )
    from client_data_ingester_spark.operators.text import quality_scores

    docs = spark.createDataFrame(
        [
            (1, "w1 w2!!! 1234 9999 !!!"),  # noisy → low quality
            (2, "the fox with mean words here"),  # clean → higher quality
            (3, "zz"),
            (10, "solo pair partner"),
            (11, "solo pair partner two"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    q = {
        r["doc_id"]: r["quality_score"]
        for r in quality_scores(docs).collect()
    }
    best = max((1, 2, 3), key=lambda d: (q[d], -d))
    out = {
        r["cluster_id"]: r for r in cluster_representatives(docs, pairs).collect()
    }
    assert set(out) == {1, 10}
    assert out[1]["n_members"] == 3
    assert out[1]["rep_doc_id"] == best
    assert abs(out[1]["rep_quality"] - q[best]) < 1e-9


def test_funnel_requires_strict_order(spark):
    import datetime as dt

    from client_data_ingester_spark.operators.events import funnel_steps

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: full ordered funnel
        (1, t(1), 1, "view"), (2, t(2), 1, "click"), (3, t(3), 1, "purchase"),
        # user 2: purchase happens but BEFORE any click → funnel stops at 1
        (4, t(1), 2, "view"), (5, t(2), 2, "purchase"),
        # user 3: click precedes the first view; the click after view counts
        (6, t(1), 3, "click"), (7, t(2), 3, "view"), (8, t(3), 3, "click"),
        # user 4: never enters the funnel (no view) → absent
        (9, t(1), 4, "purchase"),
        # user 5: clicks BEFORE the first view and never again — ordered
        # semantics say steps_completed=1; unordered-contains would say 2.
        # This is the case that pins the operator to ordered semantics.
        (10, t(1), 5, "click"), (11, t(2), 5, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r["user_id"]: r for r in funnel_steps(ev).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert out[1]["steps_completed"] == 3
    assert out[2]["steps_completed"] == 1 and out[2]["ts_2"] is None
    assert out[3]["steps_completed"] == 2
    assert out[3]["ts_2"] == t(3)  # the post-view click, not the earlier one
    assert out[5]["steps_completed"] == 1 and out[5]["ts_2"] is None


def test_resize_plumbing_image_only_and_scales(spark):
    docs = spark.createDataFrame(
        [(i, f"text payload {i}") for i in range(9)],
        "doc_id long, text string",
    )
    media = M.attach_media_columns(docs)
    out = M.resize_images(media, out_width=32, out_height=16).collect()
    # only image rows (doc_id % 3 == 0) survive the kind filter
    assert {r["media_id"] for r in out} == {0, 3, 6}
    for r in out:
        assert (r["out_width"], r["out_height"]) == (32, 16)
        assert r["scale_x"] == 32 / 64 and r["scale_y"] == 16 / 64
        assert len(r["resized_hash"]) == 32
    # stub off → the codec boundary raises
    import pytest

    with pytest.raises(Exception) as ei:
        M.resize_images(media, decode_stub=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_incremental_lsh_equals_full_run_cross_slice(spark):
    """The completeness contract for daily-increment dedup: in-batch pairs
    plus batch-vs-index pairs reproduce EXACTLY the full re-run's pairs
    that involve a new document (band keys are per-document functions, so
    membership of a pair never depends on the rest of the corpus)."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a completely different document about spark execution engines",
        "yet another unrelated piece of text entirely on its own",
    ]
    # 40 docs: four text families repeated with small id-dependent suffixes
    rows = [
        (i, texts[i % 4] + (" extra" if i % 8 >= 4 else ""))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)

    full = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(docs, num_perm=4, bands=2).collect()
    }
    in_batch = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(new, num_perm=4, bands=2).collect()
    }
    cross = {
        (r["doc_a"], r["doc_b"])
        for r in D.incremental_lsh_candidates(
            new, D.minhash_band_keys(old, num_perm=4, bands=2),
            num_perm=4, bands=2,
        ).collect()
    }
    is_new = lambda d: d % 5 == 0  # noqa: E731
    full_involving_new = {
        p for p in full if is_new(p[0]) or is_new(p[1])
    }
    assert cross | in_batch == full_involving_new
    # and the cross set is disjoint from in-batch (new×old only)
    assert all(is_new(a) != is_new(b) for a, b in cross)


# -- corpus LM ops / profiler / sampler (round-5 late additions) ------------


def test_bigram_rows_skips_short_docs(spark):
    from client_data_ingester_spark.operators import corpus as CO

    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two words"), (4, "a b c")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["w1"], r["w2"]) for r in CO.bigram_rows(df).collect()
    }
    # docs 1 and 2 contribute nothing (sequence(1,0) would count DOWN in
    # Spark — the empty-below-two-words guard is the point of this test)
    assert got == {(3, "two", "words"), (4, "a", "b"), (4, "b", "c")}


def test_unigram_logprob_orders_rare_above_common(spark):
    from client_data_ingester_spark.operators import corpus as CO

    df = spark.createDataFrame(
        [(1, "common common common common"), (2, "rare common common common")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["neg_logprob"] for r in CO.unigram_logprob(df).collect()}
    assert out[2] > out[1]  # the doc containing the rare word is more surprising


def test_balanced_sample_invariant_to_partitioning(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = X.balanced_sample(docs, k=5).collect()
    b = X.balanced_sample(docs.repartition(13), k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_group = {}
    for r in a:
        per_group[r["source"]] = per_group.get(r["source"], 0) + 1
    assert all(v <= 5 for v in per_group.values())


def test_profile_table_counts_nulls_and_ndv(spark):
    from client_data_ingester_spark.operators import profile as PF

    df = spark.createDataFrame(
        [(1, None, "x"), (2, 2.5, None), (3, 2.5, "y"), (None, 1.0, "y")],
        "a long, b double, c string",
    )
    rows = {
        r["col_name"]: r
        for r in PF.profile_table(
            df, [("a", "num"), ("b", "num"), ("c", "str")]
        ).collect()
    }
    assert rows["a"]["n_rows"] == 4 and rows["a"]["n_nulls"] == 1
    assert rows["a"]["ndv"] == 3  # count_distinct ignores the null
    assert rows["b"]["min_num"] == 1.0 and rows["b"]["max_num"] == 2.5
    assert rows["c"]["n_nulls"] == 1 and rows["c"]["ndv"] == 2
    assert rows["c"]["min_str"] == "x" and rows["c"]["max_str"] == "y"
    assert rows["c"]["min_num"] is None  # numeric slots null for strings


def test_profile_table_approx_ndv_same_schema_close_values(spark):
    """exact_ndv=False keeps the output contract and lands within the HLL++
    error bound on small-cardinality columns (exact for ndv << 1/rsd²)."""
    from client_data_ingester_spark.operators import profile as PF

    df = spark.range(1000).selectExpr(
        "id AS a", "CAST(id % 37 AS DOUBLE) AS b", "CAST(id % 5 AS STRING) AS c"
    )
    cols = [("a", "num"), ("b", "num"), ("c", "str")]
    exact = PF.profile_table(df, cols)
    approx = PF.profile_table(df, cols, exact_ndv=False)
    assert exact.schema == approx.schema
    e = {r["col_name"]: r for r in exact.collect()}
    a = {r["col_name"]: r for r in approx.collect()}
    for name in ("a", "b", "c"):
        # everything except ndv is computed identically
        assert e[name]["n_rows"] == a[name]["n_rows"]
        assert e[name]["n_nulls"] == a[name]["n_nulls"]
        assert e[name]["min_num"] == a[name]["min_num"]
        assert e[name]["max_str"] == a[name]["max_str"]
        # HLL++ at rsd=0.05: allow 3 standard deviations
        assert abs(a[name]["ndv"] - e[name]["ndv"]) <= max(
            3, 0.15 * e[name]["ndv"]
        )


def test_semantic_dedup_pairs_stay_within_cell(spark):
    from client_data_ingester_spark.operators import similarity as SM

    # two cells; a1/a2 identical (cos=1), b1 orthogonal to both
    corpus = spark.createDataFrame(
        [
            (1, "A", [1.0, 0.0, 0.0]),
            (2, "A", [1.0, 0.0, 0.0]),
            (3, "B", [1.0, 0.0, 0.0]),  # identical direction but other cell
            (4, "B", [0.0, 1.0, 0.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    pairs = SM.semantic_dedup_pairs(
        corpus, threshold=0.9, cell_col="label"
    ).collect()
    assert [(r["id_a"], r["id_b"], r["cell"]) for r in pairs] == [(1, 2, "A")]


def test_semantic_dedup_retained_keeps_least_central(spark):
    from client_data_ingester_spark.operators import similarity as SM

    # cell A: v1 and v2 near-duplicates, v2 closer to the centroid (which
    # is pulled toward v2/v3's direction) -> v2 must be dropped, v1 kept
    corpus = spark.createDataFrame(
        [
            (1, "A", [1.0, 0.05, 0.0]),
            (2, "A", [1.0, 0.25, 0.0]),
            (3, "A", [1.0, 0.30, 0.0]),
            (4, "A", [0.0, 0.0, 1.0]),  # orthogonal, not a dup of anyone
        ],
        "vec_id long, label string, embedding array<double>",
    )
    cents = SM.ivf_centroids(corpus, cell_col="label")
    kept = sorted(
        r["vec_id"]
        for r in SM.semantic_dedup_retained(
            corpus, cents, threshold=0.98, cell_col="label"
        ).collect()
    )
    # pairs >= 0.98: (1,2) and (2,3) — cos(1,3) ~ 0.971 is under the bar.
    # centroid ranking (cos to the 4-vector mean): 1 < 3 < 2, so vector 2
    # is outranked on both of its edges and drops; 3's only neighbor (2)
    # ranks higher, so 3 survives — the documented greedy-per-edge rule,
    # not transitive-closure dedup
    assert kept == [1, 3, 4]


def test_chunk_dedup_finds_shared_spans(spark):
    """Two docs share a passage at DIFFERENT offsets; content-defined
    boundaries resynchronize inside the shared span, so both docs report
    duplicated chunks while the unrelated doc reports none."""
    shared = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3).strip()
    docs = spark.createDataFrame(
        [
            (1, shared + " unique tail one"),
            (2, "different head words " + shared),
            (3, "totally unrelated text with none of those passages at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.chunk_dedup_stats(docs).collect()}
    assert len(out) == 3
    assert out[1]["n_dup_chunks"] > 0
    assert out[2]["n_dup_chunks"] > 0
    assert out[3]["n_dup_chunks"] == 0
    assert out[3]["dup_chunk_ratio"] == 0.0
    # every doc's chunk partition covers it: chunks * ~divisor ≈ tokens
    assert out[1]["n_chunks"] == 5 and out[2]["n_chunks"] == 4


def test_chunk_dedup_is_deterministic_and_covers_all_tokens(spark):
    """CDC chunking is a pure function of content: two runs agree exactly,
    and every token lands in exactly one chunk (sum of chunk sizes over a
    doc == its token count)."""
    docs = spark.createDataFrame(
        [(i, f"some repeated filler text block number {i % 3} "
             f"with trailing variation {i}") for i in range(20)],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in D.chunk_dedup_stats(docs).collect())
    b = sorted(tuple(r) for r in D.chunk_dedup_stats(docs).collect())
    assert a == b
    from client_data_ingester_spark.operators.dedup import words_expr
    tok_counts = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(words_expr(F.col("text"))).alias("n")
        ).collect()
    }
    # n_chunks bounded by token count; every doc present exactly once
    by_doc = {r[0]: r for r in a}
    assert sorted(by_doc) == sorted(tok_counts)
    for doc_id, row in by_doc.items():
        assert 1 <= row[1] <= tok_counts[doc_id]


def test_retention_cohorts_triangle(spark):
    import datetime as dt

    from client_data_ingester_spark.operators.events import retention_cohorts

    def ev(i, uid, day):
        return (i, uid, "view", "1.0", dt.datetime(2024, 1, day, 12, 0))

    # week of Jan 1 2024 is Mon Jan 1; next week starts Jan 8
    events = spark.createDataFrame(
        [
            ev(1, 1, 1), ev(2, 2, 2),        # users 1,2 first seen week 0
            ev(3, 1, 9),                      # user 1 returns in week 1
            ev(4, 3, 10),                     # user 3 first seen week 1
        ],
        "event_id long, user_id long, event_type string, value string, ts timestamp",
    )
    rows = {
        (str(r["cohort_week"]), r["week_offset"]): r
        for r in retention_cohorts(events).collect()
    }
    w0 = rows[("2024-01-01", 0)]
    assert w0["n_users"] == 2 and w0["retained_pct"] == 1.0
    w0r = rows[("2024-01-01", 1)]
    assert w0r["n_users"] == 1 and w0r["retained_pct"] == 0.5
    w1 = rows[("2024-01-08", 0)]
    assert w1["n_users"] == 1


def test_daily_anomaly_flags_spike_nulls_constant(spark):
    import datetime as dt

    from client_data_ingester_spark.operators.events import daily_anomaly_scores

    rows = []
    i = 0
    # type "flat": 10 events every day -> zero variance -> NULL z
    # type "spiky": 10/day then 100 on the last day -> large positive z...
    # add mild jitter so the trailing window has nonzero variance
    for day in range(1, 9):
        n_flat, n_spiky = 10, (100 if day == 8 else 10 + day % 2)
        for k in range(n_flat):
            i += 1
            rows.append((i, k, "flat", "1.0", dt.datetime(2024, 1, day, 8, 0)))
        for k in range(n_spiky):
            i += 1
            rows.append((i, k, "spiky", "1.0", dt.datetime(2024, 1, day, 9, 0)))
    events = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value string, ts timestamp",
    )
    out = {
        (r["event_type"], str(r["event_date"])): r
        for r in daily_anomaly_scores(events).collect()
    }
    assert out[("flat", "2024-01-08")]["z_score"] is None  # no variance
    spike = out[("spiky", "2024-01-08")]
    assert spike["z_score"] is not None and spike["z_score"] > 3.0
    # first day has no trailing history at all
    assert out[("spiky", "2024-01-01")]["z_score"] is None


def test_kmeans_deterministic_across_partitionings(spark):
    """Integer-exact Lloyd's: the same corpus under different partition
    layouts must produce IDENTICAL assignments and distances (float
    k-means can't promise this; the quantized form must)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = S.kmeans_assignments(emb, k=4, n_iter=3).collect()
    b = S.kmeans_assignments(emb.repartition(7), k=4, n_iter=3).collect()
    key = lambda rows: sorted((r.vec_id, r.cluster, r.dist_sq) for r in rows)  # noqa: E731
    assert key(a) == key(b)
    assert len(a) == emb.count()
    assert {r.cluster for r in a} <= set(range(4))


def test_kmeans_iterations_reduce_total_distance(spark):
    """More Lloyd's rounds improve the objective. Exact-mean Lloyd's is
    strictly non-increasing; the floor-quantized centroid update can
    perturb each component by <1 quantized unit, so allow a hair of
    slack rather than pinning a bound the math doesn't promise."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    d1 = S.kmeans_assignments(emb, k=4, n_iter=1).agg(
        F.sum("dist_sq")
    ).collect()[0][0]
    d3 = S.kmeans_assignments(emb, k=4, n_iter=3).agg(
        F.sum("dist_sq")
    ).collect()[0][0]
    assert d3 <= d1 * 1.01


def test_redact_pii_scrubs_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith@corp.example.com and (212) 555-0186 now"),
            (2, "ssn 123-45-6789 twice 987-65-4321"),
            (3, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in X.redact_pii(df).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1 and out[1].n_ssns == 0
    assert out[1].clean_text == "mail [EMAIL] and [PHONE] now"
    assert out[2].n_ssns == 2
    assert out[2].clean_text == "ssn [SSN] twice [SSN]"
    assert out[3].clean_text == "no pii here at all"
    assert out[3].n_emails == out[3].n_phones == out[3].n_ssns == 0
    assert out[3].clean_len == len("no pii here at all")


def test_redact_pii_overlapping_span_counted_once(spark):
    """An SSN-shaped local part consumed by the email redaction must be
    counted as the email that ate it — counts always equal the markers
    actually placed (staged counting, not original-text counting)."""
    df = spark.createDataFrame(
        [(1, "reach 123-45-6789@corp.example.com ok")], ["doc_id", "text"]
    )
    r = X.redact_pii(df).collect()[0]
    assert r.n_emails == 1 and r.n_ssns == 0
    assert r.clean_text == "reach [EMAIL] ok"
    assert "[SSN]" not in r.clean_text


def test_url_domain_stats_groups_by_host(spark):
    df = spark.createDataFrame(
        [
            (1, "see https://a.example.com/x for details"),
            (2, "https://a.example.com/y more"),
            (3, "http://b.example.org/z"),
            (4, "no url"),
            (5, "visit https://c.example.net today"),  # path-less
            (6, "https://a.example.com:8080/admin"),  # explicit port
            (7, "trailing https://c.example.net"),  # end-of-string host
        ],
        ["doc_id", "text"],
    )
    rows = {r.domain: r for r in X.url_domain_stats(df).collect()}
    assert set(rows) == {"a.example.com", "b.example.org", "c.example.net"}
    assert rows["a.example.com"].n_docs == 3  # port form included
    assert rows["b.example.org"].n_docs == 1
    assert rows["c.example.net"].n_docs == 2  # no-path forms included


def test_gap_fill_locf_and_flags(spark):
    from client_data_ingester_spark.operators import events as E

    df = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 02:20:00", 5.0),  # hour 1 missing
            ("b", "2024-01-01 03:00:00", 2.0),
        ],
        ["event_type", "ts_s", "value"],
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    rows = E.gap_fill(df, unit="hour").collect()
    a = [(r.bucket.hour, r.filled_value, r.was_gap)
         for r in rows if r.event_type == "a"]
    assert a == [(0, 1.0, False), (1, 1.0, True), (2, 5.0, False)]
    b = [r for r in rows if r.event_type == "b"]
    assert len(b) == 1 and b[0].was_gap is False  # single-bucket span


def test_cumulative_unique_users_counts_first_seen_once(spark):
    from client_data_ingester_spark.operators import events as E

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00"),
            (1, "2024-01-01 02:05:00"),  # returning user: not recounted
            (2, "2024-01-01 00:30:00"),
            (3, "2024-01-01 02:00:00"),
        ],
        ["user_id", "ts_s"],
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    rows = E.cumulative_unique_users(df, unit="hour").collect()
    got = [(r.bucket.hour, r.new_users, r.cum_users) for r in rows]
    # DENSE curve: hour 1 (activity from a returning user only) still
    # emits a row with 0 arrivals and the carried total
    assert got == [(0, 2, 2), (1, 0, 2), (2, 1, 3)]


def test_weighted_sample_prefers_heavy_docs_and_is_deterministic(spark):
    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 5000).otherwise(5).alias("n_chars"),
    )
    out = X.weighted_sample(df, weight_col="n_chars", n=60)
    rows = out.collect()
    assert len(rows) == 60
    heavy = sum(1 for r in rows if r.weight == 5000)
    # weight ratio 1000:1 — the heavy class must dominate the sample
    assert heavy > 50
    again = X.weighted_sample(df.repartition(7), weight_col="n_chars", n=60)
    assert sorted(r.doc_id for r in again.collect()) == sorted(
        r.doc_id for r in rows
    )


def test_similarity_recall_query_bounds(spark):
    """The merged recall entry marks BOTH the IVF and PQ rankings on one
    brute-force relation (r15 rotation-capacity merge) — each index gets
    its own bounded (n_hits, recall) pair per query."""
    import __spark_entry__ as entry

    df = entry.queries()["similarity_recall_at_k"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 3
    for r in rows:
        assert r.k == 5
        for name in ("ivf", "pq"):
            n_hits = getattr(r, f"{name}_n_hits")
            recall = getattr(r, f"{name}_recall")
            assert 0 <= n_hits <= r.k
            assert 0.0 <= recall <= 1.0


def test_kmeans_model_centroids_drive_ivf(spark):
    """kmeans_model's centroid half must slot directly into ivf_topk as a
    coarse quantizer for a corpus with no precomputed cell column."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigns, cents = S.kmeans_model(emb, k=4, n_iter=2)
    crows = cents.collect()
    assert len(crows) == 4
    dim = len(emb.first().embedding)
    assert all(len(r.centroid) == dim for r in crows)
    corpus = emb.select("vec_id", "embedding").join(
        assigns.select("vec_id", F.col("cluster").alias("label")), "vec_id"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ivf_topk(
        corpus, q, k=3, nprobe=2,
        centroids=cents.select(F.col("cluster").alias("label"), "centroid"),
    ).collect()
    assert len(out) == 3


def test_containment_detects_quoted_subset(spark):
    """A short doc wholly quoted inside a long one: containment from the
    short side ~1.0 while Jaccard is diluted by the long side."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    c = D.containment_pairs(docs, pairs).collect()[0]
    assert c.containment_a == 1.0  # every short-doc shingle is in long
    assert c.containment_max == 1.0
    jac = D.jaccard_pairs(docs, pairs).collect()[0]
    assert jac.jaccard < 0.2  # the symmetric measure misses it


def test_gap_fill_all_null_bucket_carries_last_real_value(spark):
    """An observed bucket whose values are all NULL is a was_gap bucket
    that carries the LAST NON-NULL total forward (true locf) — a plain
    lag would propagate the NULL into the following gap rows."""
    from client_data_ingester_spark.operators import events as E

    df = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:10:00", 3.0),
            ("a", "2024-01-01 01:20:00", None),  # observed, all-NULL
            ("a", "2024-01-01 03:30:00", 7.0),  # hour 2 is a pure gap
        ],
        ["event_type", "ts_s", "value"],
    ).select(
        "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    rows = {
        r.bucket.hour: (r.filled_value, r.was_gap)
        for r in E.gap_fill(df, unit="hour").collect()
    }
    assert rows[0] == (3.0, False)
    assert rows[1] == (3.0, True)  # NULL bucket: carried value, flagged
    assert rows[2] == (3.0, True)  # pure gap after the NULL bucket
    assert rows[3] == (7.0, False)


def test_weighted_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 0), (3, -5), (4, None), (5, 100)],
        "doc_id long, n_chars long",
    )
    rows = X.weighted_sample(df, weight_col="n_chars", n=10).collect()
    # zero / negative / NULL weights never enter the draw (ln(u)/0 would
    # be engine-divergent: Spark folds ±inf to NULL, DuckDB errors)
    assert sorted(r.doc_id for r in rows) == [1, 5]
    assert all(r.key_micro is not None for r in rows)


def test_gap_fill_max_gap_bounds_fill(spark):
    from client_data_ingester_spark.operators import events as E

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-03 00:00:00", 9.0)],
        ["event_type", "ts_s", "value"],
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    # 47 missing hours between the two observations; cap at 3
    rows = E.gap_fill(df, unit="hour", max_gap=3).collect()
    assert len(rows) == 1 + 3 + 1  # first obs + 3 capped gaps + second obs
    gaps = [r for r in rows if r.was_gap]
    assert len(gaps) == 3
    assert all(r.filled_value == 1.0 for r in gaps)
    # uncapped behavior unchanged
    assert len(E.gap_fill(df, unit="hour").collect()) == 49


def test_quantize_vec_clamps_out_of_range_components(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -3.0, 1e12])], "vec_id long, embedding array<double>"
    )
    q = df.select(S._quantize_vec(F.col("embedding")).alias("q")).first().q
    assert q == [500000, -2000000, 2000000]


def test_merged_first_seen_before_first_commit_is_empty(spark, tmp_path):
    from client_data_ingester_spark.streaming import users_stream as U

    missing = str(tmp_path / "never_written")
    df = U.merged_first_seen(spark, missing)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["user_id", "_first"]
    # the cumulative reader built on it also returns an empty curve
    assert U.read_cumulative_users(spark, missing, unit="hour").count() == 0


def test_bmp_codec_roundtrip_with_padding():
    import numpy as np

    # width 5 -> 15-byte rows padded to 16: the pad byte must be skipped
    w, h = 5, 4
    ys, xs = np.mgrid[0:h, 0:w]
    d = 42
    bgr = np.stack(
        [(7 * d + 3 * xs + 5 * ys) % 256,
         (d + xs + ys) % 256,
         (13 * d + xs + 2 * ys) % 256],
        axis=-1,
    ).astype(np.uint8)
    payload = M.encode_bmp(w, h, bgr)
    assert payload[:2] == b"BM"
    got = M.decode_bmp(payload)
    want = (
        w, h,
        (int(bgr[..., 0].sum()), int(bgr[..., 1].sum()), int(bgr[..., 2].sum())),
    )
    assert got == want
    # degenerate / foreign payloads fail loudly, never return garbage
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.decode_bmp(b"JFIF not a bmp at all" * 4)
    with _pytest.raises(ValueError):
        M.decode_bmp(payload[:20])


def test_bmp_pixel_stats_end_to_end(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(7)], "doc_id long"
    )
    media = M.synth_bmp_media(docs, width=5, height=4)
    rows = {r.media_id: r for r in M.bmp_pixel_stats(media).collect()}
    assert len(rows) == 7
    for d, r in rows.items():
        sb = sum((7 * d + 3 * x + 5 * y) % 256 for x in range(5) for y in range(4))
        sr = sum((13 * d + x + 2 * y) % 256 for x in range(5) for y in range(4))
        assert (r.sum_b, r.sum_r) == (sb, sr)
        assert r.mean_r_milli == sr * 1000 // 20
        assert (r.width, r.height, r.n_pixels) == (5, 4, 20)


def test_real_decode_handles_bmp_but_raises_elsewhere(spark):
    # decode_stub=False is now REAL for 24-bit BMP payloads...
    docs = spark.createDataFrame([(3,)], "doc_id long")
    media = M.synth_bmp_media(docs).select(
        "media_id", F.lit("image").alias("kind"), "payload"
    )
    feats = M.extract_features(media, decode_stub=False).collect()
    assert len(feats) == 1 and feats[0].feat_dim == 3
    assert all(0.0 <= f <= 1.0 for f in [feats[0].feat_mean])
    # ...and still refuses formats that genuinely need a codec library
    import pytest as _pytest

    with _pytest.raises(Exception) as ei:
        M.extract_features(
            media.withColumn("payload", F.encode(F.lit("PK not image"), "UTF-8")),
            decode_stub=False,
        ).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_ppm_codec_roundtrip_and_comment_handling():
    import numpy as np

    w, h = 5, 4
    ys, xs = np.mgrid[0:h, 0:w]
    d = 42
    rgb = np.stack(
        [(13 * d + xs + 2 * ys) % 256,
         (d + xs + ys) % 256,
         (7 * d + 3 * xs + 5 * ys) % 256],
        axis=-1,
    ).astype(np.uint8)
    payload = M.encode_ppm(w, h, rgb)
    assert payload[:2] == b"P6"
    got = M.decode_ppm(payload)
    # decode returns (sum_b, sum_g, sum_r): channels cross the container
    want = (
        w, h,
        (int(rgb[..., 2].sum()), int(rgb[..., 1].sum()), int(rgb[..., 0].sum())),
    )
    assert got == want
    # header comments are legal PPM; the scanner must skip them
    commented = b"P6\n# a comment\n5 4\n# another\n255\n" + rgb.tobytes()
    assert M.decode_ppm(commented) == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.decode_ppm(payload[: len(payload) - 5])  # truncated pixels
    with _pytest.raises(ValueError):
        M.decode_ppm(b"P6\n5 4\n65535\n" + b"\x00" * 120)  # 16-bit maxval


def test_bmp_and_ppm_decoders_agree(spark):
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    bmp = M.image_pixel_stats(M.synth_bmp_media(docs)).collect()
    ppm = M.image_pixel_stats(M.synth_ppm_media(docs)).collect()
    assert sorted(map(tuple, bmp), key=lambda t: t[0]) == sorted(
        map(tuple, ppm), key=lambda t: t[0]
    )


def test_png_codec_roundtrip_every_filter():
    import numpy as np

    rng = np.random.default_rng(11)
    w, h = 7, 5
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    want = (
        w, h,
        (int(rgb[..., 2].sum()), int(rgb[..., 1].sum()), int(rgb[..., 0].sum())),
    )
    # each filter type alone, then the cycling default, must all invert
    for filters in [[ft] * h for ft in range(5)] + [None]:
        payload = M.encode_png(w, h, rgb, filters=filters)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        assert M.decode_png(payload) == want

    import pytest as _pytest

    good = M.encode_png(w, h, rgb)
    corrupt = bytearray(good)
    corrupt[-5] ^= 0xFF  # flip a byte inside IEND's CRC
    with _pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(corrupt))
    with _pytest.raises(ValueError):
        M.decode_png(good[:30])  # truncated chunk
    with _pytest.raises(ValueError):
        M.decode_png(b"\x89PNG\r\n\x1a\nnot chunks")


def test_png_rejects_unsupported_variants():
    import struct
    import zlib

    import pytest as _pytest

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # grayscale (color type 0) is a legal PNG this decoder must refuse
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    gray = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x00\x03\x04"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="unsupported PNG variant"):
        M.decode_png(gray)


def test_all_three_image_decoders_agree(spark):
    # same pixel generator, three containers (padded bottom-up BGR /
    # unpadded top-down RGB / deflated+filtered scanlines): identical
    # channel sums via the magic-dispatched decode_image
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    dims = dict(width=5, height=4)
    bmp = M.image_pixel_stats(M.synth_bmp_media(docs, **dims)).collect()
    ppm = M.image_pixel_stats(M.synth_ppm_media(docs, **dims)).collect()
    png = M.image_pixel_stats(M.synth_png_media(docs, **dims)).collect()
    key = lambda rows: sorted(map(tuple, rows), key=lambda t: t[0])
    assert key(bmp) == key(ppm) == key(png)


def test_wav_codec_roundtrip_and_chunk_walk():
    import struct

    import numpy as np
    import pytest as _pytest

    s = np.array([0, 5, -3, 0, 0, 7, -1, -2, 4], dtype=np.int16)
    payload = M.encode_wav(8000, s)
    rate, n, (sa, sab, pk, zc) = M.decode_wav(payload)
    assert (rate, n) == (8000, 9)
    assert (sa, sab, pk) == (10, 22, 7)
    # strict sign changes: 5/-3, 7/-1, -2/4 — zeros break runs (0,5 and
    # -3,0 and 0,0 and 0,7 do NOT count)
    assert zc == 3

    # an extra odd-length LIST chunk before data exercises word-aligned
    # skipping in the chunk walk
    data = s.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    padded = b"RIFF" + struct.pack("<I", len(body)) + body
    assert M.decode_wav(padded) == (rate, n, (sa, sab, pk, zc))

    with _pytest.raises(ValueError, match="not a RIFF"):
        M.decode_wav(b"OggS" + payload[4:])
    with _pytest.raises(ValueError, match="truncated RIFF"):
        M.decode_wav(payload[:-4])
    # stereo must be refused, not mis-summed
    stereo_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    sb = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(stereo_fmt)) + stereo_fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    with _pytest.raises(ValueError, match="unsupported WAV variant"):
        M.decode_wav(b"RIFF" + struct.pack("<I", len(sb)) + sb)
    # empty data chunk is a legal zero-sample file
    eb = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    assert M.decode_wav(b"RIFF" + struct.pack("<I", len(eb)) + eb) == (
        8000, 0, (0, 0, 0, 0)
    )


def test_wav_sample_stats_end_to_end(spark):
    import numpy as np

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    media = M.synth_wav_media(docs, n_samples=40, sample_rate=8000)
    rows = {r.media_id: r for r in M.audio_sample_stats(media).collect()}
    assert set(rows) == {0, 1, 2, 3}
    idx = np.arange(40, dtype=np.int64)
    for d, r in rows.items():
        s = (2741 * d + 4099 * idx) % 65536 - 32768
        assert r.sample_rate == 8000 and r.n_samples == 40
        assert r.duration_micros == 5000
        assert r.sum_amp == int(s.sum())
        assert r.sum_abs == int(np.abs(s).sum())
        assert r.peak_abs == int(np.abs(s).max())
        assert r.zero_crossings == int(np.count_nonzero(s[:-1] * s[1:] < 0))


def test_real_decode_covers_wav(spark):
    import numpy as np

    wav = M.encode_wav(8000, np.array([16384, -16384], dtype=np.int16))
    feats = M._decode_real("audio", wav)
    assert len(feats) == 3
    assert feats[0] == 0.0  # symmetric samples: zero mean
    assert abs(feats[2] - 16384 / 32768.0) < 1e-12


def test_avi_codec_roundtrip_and_rejections():
    import struct

    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(13)
    w, h, n = 5, 4, 6  # width 5 → nonzero row pad, odd chunk sizes possible
    frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    payload = M.encode_avi(w, h, frames)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    gw, gh, gn, sums = M.decode_avi(payload)
    assert (gw, gh, gn) == (w, h, n)
    for f in range(n):
        want = tuple(int(frames[f, :, :, c].sum()) for c in range(3))
        assert sums[f] == want

    with _pytest.raises(ValueError, match="not a RIFF/AVI"):
        M.decode_avi(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with _pytest.raises(ValueError, match="truncated"):
        M.decode_avi(payload[:60])
    # header/movi frame-count disagreement must be caught
    tampered = bytearray(payload)
    # dwTotalFrames lives 16 bytes into avih; find its chunk body
    avih_at = payload.index(b"avih") + 8
    struct.pack_into("<I", tampered, avih_at + 16, n + 1)
    with _pytest.raises(ValueError, match="frame count mismatch"):
        M.decode_avi(bytes(tampered))
    # compressed frames are rejected, not misread
    comp = payload.replace(b"00db", b"00dc", 1)
    with _pytest.raises(ValueError, match="00dc"):
        M.decode_avi(comp)


def test_avi_word_alignment_with_junk_chunk():
    """A JUNK chunk of ODD length inside the movi list must be skipped via
    RIFF word alignment without desyncing the frame walk."""
    import struct

    import numpy as np

    frames = np.zeros((2, 2, 2, 3), dtype=np.uint8)
    frames[1, :, :, :] = 7
    payload = M.encode_avi(2, 2, frames)
    movi_at = payload.index(b"movi")
    junk = b"JUNK" + struct.pack("<I", 3) + b"xy" + b"z\x00"  # odd len + pad
    patched = payload[: movi_at + 4] + junk + payload[movi_at + 4:]
    # fix the two enclosing sizes (LIST movi body and RIFF total)
    patched = bytearray(patched)
    list_at = movi_at - 8
    (old_list,) = struct.unpack_from("<I", payload, list_at + 4)
    struct.pack_into("<I", patched, list_at + 4, old_list + len(junk))
    (old_riff,) = struct.unpack_from("<I", payload, 4)
    struct.pack_into("<I", patched, 4, old_riff + len(junk))
    w, h, n, sums = M.decode_avi(bytes(patched))
    assert (w, h, n) == (2, 2, 2)
    assert sums == [(0, 0, 0), (28, 28, 28)]


def test_avi_frame_zero_matches_bmp_generator(spark):
    """synth_avi_media frame 0 uses the BMP generator verbatim — the two
    codecs must agree through their shared closed form."""
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    bmp = {
        r.media_id: (r.sum_b, r.sum_g, r.sum_r)
        for r in M.image_pixel_stats(M.synth_bmp_media(docs)).collect()
    }
    avi = {
        r.media_id: (r.sum_b, r.sum_g, r.sum_r)
        for r in M.video_frame_stats(
            M.synth_avi_media(docs), every_n=2
        ).collect()
        if r.frame_idx == 0
    }
    assert bmp == avi


def test_video_frame_stats_sampling_fanout(spark):
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    rows = M.video_frame_stats(
        M.synth_avi_media(docs, n_frames=6), every_n=2
    ).collect()
    # 2 docs × frames {0, 2, 4}
    assert len(rows) == 6
    assert {(r.media_id, r.frame_idx) for r in rows} == {
        (d, f) for d in (1, 2) for f in (0, 2, 4)
    }
    assert all(r.n_frames == 6 and r.width == 5 and r.height == 4
               for r in rows)


def test_real_decode_covers_avi():
    import numpy as np

    frames = np.full((2, 2, 2, 3), 51, dtype=np.uint8)  # 51/255 = 0.2
    payload = M.encode_avi(2, 2, frames)
    feats = M._decode_real("video", payload)
    assert len(feats) == 3
    for v in feats:
        assert abs(v - 0.2) < 1e-12


def _pq_toy_corpus(spark, n=10, dim=8):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.uniform(-1, 1, dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_model_shapes_and_determinism(spark):
    corpus = _pq_toy_corpus(spark)
    codes, books = S.pq_model(corpus, dim=8, m=2, k=3, n_iter=2)
    c = codes.collect()
    assert len(c) == 10 * 2  # one code per (vector, subspace)
    b = books.collect()
    assert {r.sub for r in b} == {0, 1}
    assert all(len(r._cvec) == 4 for r in b)  # dim/m subvector centroids
    # codes reference existing codebook entries only
    keys = {(r.sub, r.code) for r in b}
    assert all((r.sub, r.code) in keys for r in c)
    # bit-stable across runs (int64-exact rounds)
    codes2, _ = S.pq_model(corpus, dim=8, m=2, k=3, n_iter=2)
    assert sorted(map(tuple, c)) == sorted(map(tuple, codes2.collect()))


def test_pq_adc_exact_when_codebook_is_corpus(spark):
    """With n_iter=1 and k=n the codebooks ARE the corpus subvectors, so
    every vector's code reconstructs it exactly and ADC == the true
    int64-quantized squared distance — pinning the ADC arithmetic
    against brute force with zero quantization slack."""
    corpus = _pq_toy_corpus(spark, n=4)
    codes, books = S.pq_model(corpus, dim=8, m=2, k=4, n_iter=1)
    queries = corpus.select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in S.pq_topk(queries, codes, books, dim=8, k=3).collect()
    }
    import numpy as np

    vecs = {
        r.vec_id: np.clip(
            np.floor(np.asarray(r.embedding, dtype=np.float64) * 1e6),
            -2e6, 2e6,
        ).astype(np.int64)
        for r in corpus.collect()
    }
    for (qid, nid), adc in got.items():
        d = vecs[qid] - vecs[nid]
        assert adc == int((d * d).sum())


def test_pq_model_rejects_bad_split():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not divisible"):
        S.pq_model(None, dim=10, m=4)


def test_nb_langid_separable_corpus(spark):
    from client_data_ingester_spark.operators import corpus as C

    rows = [
        (1, "der hund und die katze", "de"),
        (2, "die katze und der vogel", "de"),
        (3, "the dog and the cat", "en"),
        (4, "the cat and the bird", "en"),
        (5, "der hund und der vogel", "de"),
        (6, "the bird and the dog", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in C.nb_language_scores(docs).collect()}
    assert len(got) == 6
    # fully separable vocab: every prediction must match the label
    assert all(r.is_correct for r in got.values())
    assert got[1].pred_lang == "de" and got[3].pred_lang == "en"
    # deterministic: same scores on a second run
    again = {r.doc_id: r.score_micro
             for r in C.nb_language_scores(docs).collect()}
    assert again == {d: r.score_micro for d, r in got.items()}


def test_nb_langid_unseen_word_uses_default(spark):
    """A doc whose words never occur in the other class must still get a
    finite score for that class (the lp0 unseen default), and prefer its
    own class."""
    from client_data_ingester_spark.operators import corpus as C

    rows = [
        (1, "aaa bbb aaa", "x"),
        (2, "ccc ddd ccc", "y"),
        (3, "aaa aaa bbb", "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in C.nb_language_scores(docs).collect()}
    assert out[2].pred_lang == "y"
    assert out[1].pred_lang == "x" and out[3].pred_lang == "x"


def test_shard_assignment_is_pure_function_of_id(spark):
    from client_data_ingester_spark.operators import export as EX

    docs = spark.createDataFrame(
        [(i, i * 10) for i in range(200)], "doc_id long, n_chars long"
    )
    a = {r.doc_id: r.shard_id for r in EX.shard_assignments(docs, 16).collect()}
    # same ids through a different partitioning → identical shards
    b = {
        r.doc_id: r.shard_id
        for r in EX.shard_assignments(docs.repartition(7), 16).collect()
    }
    assert a == b
    assert set(a.values()) <= set(range(16))
    m = {r.shard_id: r for r in EX.shard_manifest(docs, 16).collect()}
    assert sum(r.n_docs for r in m.values()) == 200
    assert all(r.skew_permille < 1000 for r in m.values())


def test_write_shards_roundtrip(spark, tmp_path):
    from client_data_ingester_spark.operators import export as EX

    docs = spark.createDataFrame(
        [(i, f"doc {i}", i * 3) for i in range(100)],
        "doc_id long, text string, n_chars long",
    )
    out = str(tmp_path / "shards")
    EX.write_shards(docs, out, n_shards=8)
    back = spark.read.parquet(out)
    assert back.count() == 100
    # membership on disk matches the declared assignment
    want = {r.doc_id: r.shard_id for r in EX.shard_assignments(docs, 8).collect()}
    got = {r.doc_id: r.shard_id for r in back.collect()}
    assert got == want
    # one file group per shard: no shard dir holds more than a couple files
    import os

    for d in os.listdir(out):
        if d.startswith("shard_id="):
            files = [f for f in os.listdir(os.path.join(out, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1


def test_quality_curriculum_partitions_whole_corpus(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    tiers = {r.tier: r for r in X.quality_curriculum(docs).collect()}
    n = docs.count()
    # every doc lands in exactly one tier
    assert sum(r.n_docs for r in tiers.values()) == n
    assert set(tiers) <= {0, 1, 2, 3}
    # tier ceilings are monotonically non-decreasing and end at 1.0
    his = [tiers[t].tier_hi for t in sorted(tiers)]
    assert his == sorted(his)
    assert max(tiers) == 3 and tiers[max(tiers)].tier_hi == 1.0
    # mean quality rises with the tier (that's the curriculum)
    means = [tiers[t].mean_quality for t in sorted(tiers)]
    assert means == sorted(means)


def test_codec_malformed_inputs_raise_valueerror_not_crash():
    """Round-8 review findings: every malformed-container path must raise
    ValueError (the decoder contract), never ZeroDivisionError or
    struct.error escaping from an unpack past a short chunk."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    # degenerate 0x0 PNG: IHDR declares 0x0, empty deflated IDAT
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0)
    png0 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="degenerate"):
        M.decode_png(png0)

    # AVI with an avih chunk shorter than the 56-byte header it declares
    frames = np.zeros((1, 2, 2, 3), dtype=np.uint8)
    good = M.encode_avi(2, 2, frames)
    avih_at = good.index(b"avih")
    short = bytearray(good)
    struct.pack_into("<I", short, avih_at + 4, 8)  # declared length 8
    with _pytest.raises(ValueError, match="short AVI avih"):
        M.decode_avi(bytes(short))

    # WAV with sample rate 0
    fmt0 = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt0)) + fmt0
        + b"data" + struct.pack("<I", 4) + b"\x01\x00\x02\x00"
    )
    with _pytest.raises(ValueError, match="sample rate"):
        M.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_wav_trailing_padding_is_tolerated():
    """Block-padded files carry bytes past the declared RIFF extent; the
    chunk walk must stop at 8+riff_size (like decode_avi) instead of
    parsing the pad as a chunk."""
    import numpy as np

    wav = M.encode_wav(8000, np.array([100, -100, 50], dtype=np.int16))
    padded = wav + b"\x00" * 16  # trailing block padding
    assert M.decode_wav(padded) == M.decode_wav(wav)


def test_decode_real_empty_media_and_unknown_riff():
    import struct

    import numpy as np
    import pytest as _pytest

    # legal zero-sample WAV -> zero feature vector, not ZeroDivisionError
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    eb = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    wav0 = b"RIFF" + struct.pack("<I", len(eb)) + eb
    assert M._decode_real("audio", wav0) == [0.0, 0.0, 0.0]

    # legal zero-frame AVI -> zero feature vector
    avi0 = M.encode_avi(2, 2, np.zeros((0, 2, 2, 3), dtype=np.uint8))
    assert M._decode_real("video", avi0) == [0.0, 0.0, 0.0]

    # RIFF form that is neither WAVE nor AVI (e.g. WEBP): the honest
    # codec-boundary error, not a misleading 'malformed' ValueError
    webp = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 " + b"\x00" * 4
    with _pytest.raises(NotImplementedError):
        M._decode_real("image", webp)


def _corrupt_png_zlib_checksum() -> tuple[bytes, bytes]:
    """A PNG whose chunk CRCs are VALID but whose zlib stream carries a
    corrupted adler32 — exercises the inflate error path, not the chunk
    walk."""
    import struct
    import zlib

    import numpy as np

    ys, xs = np.mgrid[0:4, 0:5]
    good = M.encode_png(5, 4, M._gen_bgr(1, xs, ys)[..., ::-1])
    # locate the (single) IDAT chunk, flip the adler32 trailer's last
    # byte, and REcompute the chunk CRC so only zlib notices
    pos = 8
    out = bytearray(good)
    while pos + 8 <= len(good):
        (length,) = struct.unpack_from(">I", good, pos)
        tag = good[pos + 4:pos + 8]
        if tag == b"IDAT":
            body = bytearray(good[pos + 8:pos + 8 + length])
            body[-1] ^= 0xFF  # adler32 trailer
            crc = zlib.crc32(b"IDAT" + bytes(body)) & 0xFFFFFFFF
            out[pos + 8:pos + 8 + length] = body
            struct.pack_into(">I", out, pos + 8 + length, crc)
            return good, bytes(out)
        pos += 12 + length
    raise AssertionError("no IDAT chunk found")


def _corrupt_avi_frame_count() -> tuple[bytes, bytes]:
    """An AVI whose avih header declares one more frame than movi
    carries — the index/frame-count mismatch case."""
    import struct

    import numpy as np

    fs, ys, xs = np.mgrid[0:3, 0:4, 0:5]
    good = M.encode_avi(5, 4, M._gen_bgr(2, xs, ys, fs))
    bad = bytearray(good)
    avih_at = good.index(b"avih")
    # dwTotalFrames is the 5th dword of the 56-byte avih body
    struct.pack_into("<I", bad, avih_at + 8 + 16, 4)
    return good, bytes(bad)


def _synth_one(kind: str, d: int = 1) -> bytes:
    import numpy as np

    ys, xs = np.mgrid[0:4, 0:5]
    if kind == "bmp":
        return M.encode_bmp(5, 4, M._gen_bgr(d, xs, ys))
    if kind == "ppm":
        return M.encode_ppm(5, 4, M._gen_bgr(d, xs, ys)[..., ::-1])
    idx = np.arange(40, dtype=np.int64)
    return M.encode_wav(
        8000, (((2741 * d + 4099 * idx) % 65536) - 32768).astype(np.int16)
    )


_CORRUPTION_CASES = [
    # (name, build (good, bad), decode fn, stats operator ctor)
    (
        "bmp_truncated_mid_pixels",
        lambda: (_synth_one("bmp"), _synth_one("bmp")[:-5]),
        lambda p: M.decode_image(p),
        lambda df: M.image_pixel_stats(df, on_error="null"),
    ),
    (
        "ppm_truncated_mid_pixels",
        lambda: (_synth_one("ppm"), _synth_one("ppm")[:-3]),
        lambda p: M.decode_image(p),
        lambda df: M.image_pixel_stats(df, on_error="null"),
    ),
    (
        "png_zlib_corrupt_checksum",
        _corrupt_png_zlib_checksum,
        lambda p: M.decode_image(p),
        lambda df: M.image_pixel_stats(df, on_error="null"),
    ),
    (
        "wav_truncated_mid_samples",
        lambda: (_synth_one("wav"), _synth_one("wav")[:-3]),
        lambda p: M.decode_wav(p),
        lambda df: M.audio_sample_stats(df, on_error="null"),
    ),
    (
        "avi_frame_count_mismatch",
        _corrupt_avi_frame_count,
        lambda p: M.decode_avi(p),
        lambda df: M.video_frame_stats(df, on_error="null"),
    ),
    (
        "resize_bmp_truncated",
        lambda: (_synth_one("bmp"), _synth_one("bmp")[:-5]),
        lambda p: M.decode_bmp_pixels(p),
        lambda df: M.resize_images_real(df, on_error="null"),
    ),
]


@pytest.mark.parametrize(
    "name,build,decode,stats", _CORRUPTION_CASES, ids=[c[0] for c in _CORRUPTION_CASES]
)
def test_codec_corruption_yields_null_stats_row(spark, name, build, decode, stats):
    """Adversarial-container audit contract, all five codecs: a corrupted
    payload (a) raises ValueError from the bare decoder — the strict
    contract — and (b) in on_error='null' audit mode yields exactly one
    NULL-stats row for that media_id while healthy rows in the same batch
    keep their exact stats (one bad blob must never kill a partition)."""
    import pytest as _pytest

    good, bad = build()
    with _pytest.raises(ValueError):
        decode(bad)

    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad))],
        "media_id long, payload binary",
    )
    rows = stats(media).collect()
    bad_rows = [r for r in rows if r.media_id == 2]
    good_rows = [r for r in rows if r.media_id == 1]
    assert len(bad_rows) == 1  # a report row, not an exception
    stat_cols = [c for c in rows[0].asDict() if c != "media_id"]
    assert all(bad_rows[0][c] is None for c in stat_cols)
    assert good_rows, "healthy payload must still decode in the same batch"
    assert all(
        all(r[c] is not None for c in stat_cols) for r in good_rows
    )


def test_stats_on_error_rejects_unknown_mode(spark):
    docs = spark.createDataFrame([(1,)], "doc_id long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="on_error"):
        M.image_pixel_stats(M.synth_bmp_media(docs), on_error="skip")


def test_gopher_rules_bitmask_audit(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then "
            "keeps on running through the field with great joy today"),
        (2, "tiny doc"),                       # too few words
        (3, "!!! ??? ***  ###  $$$ %%% ^^^ &&& @@@ ~~~ ||| +++"),  # symbols
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in X.gopher_rule_filter(docs).collect()}
    assert got[1].kept and got[1].failed_mask == 0 and got[1].n_failed == 0
    assert not got[2].kept
    assert got[2].failed_mask & 1  # rule 0: word count
    assert not got[3].kept
    assert got[3].failed_mask & 8   # rule 3: alpha-word fraction
    assert got[3].failed_mask & 32  # rule 5: punctuation ratio
    # mask and n_failed agree
    for r in got.values():
        assert bin(r.failed_mask).count("1") == r.n_failed
        assert r.kept == (r.failed_mask == 0)


def test_gopher_rules_is_map_only(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = X.gopher_rule_filter(docs)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("== Physical Plan ==")[1].split("\n\n")[0]
    assert "Exchange" not in tree
    assert tree.count("Scan parquet") == 1


def test_ivfpq_exact_when_codebook_saturated(spark):
    """With one Lloyd round and k_codes = n the residual codebooks ARE
    the residuals, so for any candidate in a probed cell the ADC equals
    the exact int64 quantized distance ||q - v||^2 — the residual
    algebra (q-c) - (v-c) = q - v pins both the encode and the probe
    arithmetic against brute force with zero quantization slack."""
    import numpy as np

    corpus = _pq_toy_corpus(spark, n=6)
    assigns, cents = S.kmeans_model(corpus, k=2, n_iter=2)
    codes, books = S.ivfpq_encode(
        corpus, assigns, cents, dim=8, m=2, k_codes=6, n_iter=1
    )
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    got = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in S.ivfpq_topk(
            queries, cents, codes, books,
            dim=8, m=2, k=5, nprobe=2,  # nprobe = all cells
        ).collect()
    }
    assert got  # every query has neighbors (all cells probed)
    vecs = {
        r.vec_id: np.clip(
            np.floor(np.asarray(r.embedding, dtype=np.float64) * 1e6),
            -2e6, 2e6,
        ).astype(np.int64)
        for r in corpus.collect()
    }
    for (qid, nid), adc in got.items():
        d = vecs[qid] - vecs[nid]
        assert adc == int((d * d).sum())


def test_ivfpq_candidates_come_from_probed_cells_only(spark):
    corpus = _pq_toy_corpus(spark, n=12)
    assigns, cents = S.kmeans_model(corpus, k=4, n_iter=2)
    codes, books = S.ivfpq_encode(corpus, assigns, cents, dim=8, m=2)
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ivfpq_topk(
        queries, cents, codes, books, dim=8, m=2, k=12, nprobe=1
    ).collect()
    # cluster-less codes (the deleted legacy fallback's input) must raise
    # loudly instead of silently re-joining assignments per query batch
    with pytest.raises(ValueError, match="cell-carrying codes"):
        S.ivfpq_topk(
            queries, cents, codes.drop("cluster"), books,
            dim=8, m=2, k=12, nprobe=1,
        )
    cell_of = {r.vec_id: r.cluster for r in assigns.collect()}
    for r in out:
        # with nprobe=1 every neighbor must share the query's own cell
        # (the query is a corpus member, so its nearest cell is its own)
        assert cell_of[r.neighbor_id] == cell_of[r.query_id]


def test_png_every_single_byte_corruption_is_detected():
    """CRC32 verification must catch EVERY single-byte corruption — the
    decoder may never silently return wrong sums for a damaged file
    (BMP/PPM have no integrity field, which is exactly why PNG's CRC
    walk is worth its cost)."""
    import numpy as np

    rgb = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    good = M.encode_png(2, 2, rgb)
    want = M.decode_png(good)
    for i in range(len(good)):
        bad = bytearray(good)
        bad[i] ^= 0x5A
        try:
            got = M.decode_png(bytes(bad))
        except ValueError:
            continue  # detected — the contract
        # a flip the walk tolerates must not change the decoded values
        assert got == want, f"undetected corruption at byte {i}"


def test_pq_saturated_identity_across_shapes(spark):
    """The ADC == exact-distance identity (k_codes = n, n_iter = 1) must
    hold for every (dim, m) split, pinning the slicing arithmetic."""
    import numpy as np

    for dim, m in [(4, 1), (8, 4), (12, 3)]:
        rows = [
            (i, [(((7 * i + 3 * d) % 19) - 9) / 10.0 for d in range(dim)])
            for i in range(5)
        ]
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        codes, books = S.pq_model(corpus, dim=dim, m=m, k=5, n_iter=1)
        queries = corpus.select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = {
            (r.query_id, r.neighbor_id): r.adc_dist
            for r in S.pq_topk(
                queries, codes, books, dim=dim, k=4
            ).collect()
        }
        vecs = {
            r.vec_id: np.floor(
                np.asarray(r.embedding, dtype=np.float64) * 1e6
            ).astype(np.int64)
            for r in corpus.collect()
        }
        for (qid, nid), adc in got.items():
            d = vecs[qid] - vecs[nid]
            assert adc == int((d * d).sum()), (dim, m, qid, nid)


def test_resize_real_roundtrip_and_identity(spark):
    import numpy as np

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    media = M.synth_bmp_media(docs, width=5, height=4)
    out = {r.media_id: r for r in M.resize_images_real(media, 3, 2).collect()}
    ys, xs = np.mgrid[0:4, 0:5]
    for d, r in out.items():
        src = M._gen_bgr(int(d), xs, ys)
        want = M.nn_resize(src, 3, 2)
        assert (r.sum_b, r.sum_g, r.sum_r) == tuple(
            int(want[..., c].sum()) for c in range(3)
        )
        # the re-encoded payload is itself a decodable BMP of the resized
        # image — the full decode->transform->re-encode loop closes
        w2, h2, sums2 = M.decode_bmp(bytes(r.payload))
        assert (w2, h2) == (3, 2)
        assert sums2 == (r.sum_b, r.sum_g, r.sum_r)
    # identity resize reproduces the original image exactly
    same = {r.media_id: r for r in M.resize_images_real(media, 5, 4).collect()}
    orig = {r.media_id: r for r in M.image_pixel_stats(media).collect()}
    for d in same:
        assert (same[d].sum_b, same[d].sum_g, same[d].sum_r) == (
            orig[d].sum_b, orig[d].sum_g, orig[d].sum_r
        )


def test_shard_checksums_order_independent_and_incremental(spark):
    from client_data_ingester_spark.operators import export as EX

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(60)], "doc_id long, text string"
    )
    a = {r.shard_id: (r.n_docs, r.checksum)
         for r in EX.shard_checksums(docs, 8).collect()}
    # partitioning/order independence
    b = {r.shard_id: (r.n_docs, r.checksum)
         for r in EX.shard_checksums(docs.repartition(5), 8).collect()}
    assert a == b
    # incremental maintenance: removing a doc folds its term OUT — the
    # checksum of the remainder equals full-recompute of the remainder
    rest = docs.filter(F.col("doc_id") != 7)
    c = {r.shard_id: (r.n_docs, r.checksum)
         for r in EX.shard_checksums(rest, 8).collect()}
    changed = {s for s in a if a[s] != c.get(s, (0, 0))}
    assert len(changed) == 1  # only doc 7's shard moved
    # content sensitivity: a one-char edit changes exactly its shard
    edited = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 9, F.lit("text 9!")).otherwise(
            F.col("text")
        ),
    )
    d = {r.shard_id: (r.n_docs, r.checksum)
         for r in EX.shard_checksums(edited, 8).collect()}
    diff = {s for s in a if a[s] != d[s]}
    assert len(diff) == 1


def test_zipf_slope_recovers_planted_power_law(spark):
    """A corpus whose word frequencies are an exact power law freq(r) =
    C / r must fit slope -1 (within the micro-nat quantization)."""
    from client_data_ingester_spark.operators import corpus as C

    rows = []
    doc_id = 0
    # word_r appears floor(1200 / r) times, r = 1..30
    words = []
    for r in range(1, 31):
        words += [f"w{r:02d}"] * (1200 // r)
    # chunk into docs of 50 words
    for i in range(0, len(words), 50):
        rows.append((doc_id, " ".join(words[i:i + 50])))
        doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = C.zipf_slope(docs, top_n=30).collect()[0]
    assert out.n_points == 30
    assert abs(out.slope - (-1.0)) < 0.02  # floor(1200/r) ~ 1200/r
    # deterministic across partitionings
    again = C.zipf_slope(docs.repartition(7), top_n=30).collect()[0]
    assert (again.slope, again.intercept_ln) == (out.slope, out.intercept_ln)


def test_dq_totalprice_audit_classifies_all_three_ways(spark):
    from client_data_ingester_spark.operators import dq as DQ

    orders = spark.createDataFrame(
        [
            (1, "O", 220.00),   # matches: 2 items below
            (2, "F", 999.99),   # mismatch
            (3, "P", 50.00),    # childless
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    lineitem = spark.createDataFrame(
        [
            (1, 100.0, 0.0, 0.10),   # 100 * 1.0 * 1.10 = 110
            (1, 100.0, 0.0, 0.10),   # + 110 = 220
            (2, 10.0, 0.5, 0.00),    # 5 != 999.99
        ],
        "l_orderkey long, l_extendedprice double, "
        "l_discount double, l_tax double",
    )
    got = {
        r.o_orderstatus: r
        for r in DQ.orders_totalprice_audit(orders, lineitem).collect()
    }
    assert got["O"].n_match == 1 and got["O"].n_mismatch == 0
    assert got["F"].n_mismatch == 1
    assert got["P"].n_childless == 1


def test_dq_referential_audit_counts_orphans(spark):
    from client_data_ingester_spark.operators import dq as DQ

    tables = {
        "nation": spark.createDataFrame(
            [(0, 0), (1, 0)], "n_nationkey long, n_regionkey long"
        ),
        "region": spark.createDataFrame([(0,)], "r_regionkey long"),
        "customer": spark.createDataFrame(
            [(10, 0), (11, 9), (12, None)],  # 9 missing; NULL is an orphan
            "c_custkey long, c_nationkey long",
        ),
        "supplier": spark.createDataFrame(
            [(20, 1)], "s_suppkey long, s_nationkey long"
        ),
        "orders": spark.createDataFrame(
            [(30, 10)], "o_orderkey long, o_custkey long"
        ),
        "part": spark.createDataFrame([(40,)], "p_partkey long"),
        "lineitem": spark.createDataFrame(
            [(30, 40, 20), (31, 40, 20)],  # order 31 missing
            "l_orderkey long, l_partkey long, l_suppkey long",
        ),
    }
    got = {
        r.relation: (r.n_child, r.n_orphans)
        for r in DQ.referential_integrity_audit(tables).collect()
    }
    assert got["customer->nation"] == (3, 2)  # key 9 + NULL
    assert got["lineitem->orders"] == (2, 1)
    assert got["nation->region"] == (2, 0)


def test_dq_pk_and_domain_audits(spark):
    from client_data_ingester_spark.operators import dq as DQ

    # PK audit: a planted duplicate key is counted
    tables = {
        t: spark.createDataFrame([(1,), (2,)], f"{pk} long")
        for t, pk in DQ.PK_CONTRACTS
    }
    tables["nation"] = spark.createDataFrame(
        [(1,), (1,), (2,)], "n_nationkey long"
    )
    got = {r.pk: r for r in DQ.pk_uniqueness_audit(tables).collect()}
    assert got["nation.n_nationkey"].n_rows == 3
    assert got["nation.n_nationkey"].n_distinct == 2
    assert got["nation.n_nationkey"].n_dup_keys == 1
    assert got["orders.o_orderkey"].n_dup_keys == 0

    # domain audit: planted violations are counted per rule; NULL violates
    li = spark.createDataFrame(
        [
            (1.0, 10.0, 0.1, 0.05, "1995-01-01", "A", "O"),
            (-2.0, 10.0, 1.5, 0.05, "1991-01-01", "X", "O"),
            (None, 10.0, 0.1, 0.05, "1995-01-01", "N", "F"),
        ],
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_shipdate string, l_returnflag string, "
        "l_linestatus string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("date"))
    out = {r.rule: r for r in DQ.lineitem_domain_audit(li).collect()}
    assert all(r.n_rows == 3 for r in out.values())
    assert out["quantity_positive"].n_violations == 2  # -2 and NULL
    assert out["discount_in_unit_range"].n_violations == 1
    assert out["shipdate_in_era"].n_violations == 1
    assert out["returnflag_in_domain"].n_violations == 1
    assert out["linestatus_in_domain"].n_violations == 0


def test_empty_docs_emit_no_words_shingles_or_grams(spark):
    """Empty/whitespace-only text must yield EMPTY token structures —
    split('', ' ') returns [''], which would flow a '' word/shingle/gram
    through every dedup and corpus operator (all empty docs sharing the
    '' shingle would read as near-duplicates; contamination would hit
    100% on empty eval docs against any empty train doc)."""
    from client_data_ingester_spark.operators.corpus import (
        ngram_rows,
        word_rows,
    )
    from client_data_ingester_spark.operators.dedup import (
        exploded_shingles,
        lsh_candidate_pairs,
        shingle_arrays,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, "real words here ok")],
        "doc_id long, text string",
    )
    assert word_rows(docs).filter(F.col("doc_id") != 4).count() == 0
    assert exploded_shingles(docs).filter(F.col("doc_id") != 4).count() == 0
    assert ngram_rows(docs).filter(F.col("doc_id") != 4).count() == 0
    [row] = shingle_arrays(docs).filter(F.col("doc_id") == 1).collect()
    assert row["sh"] == []
    # and therefore empty docs are NOT near-duplicate candidates of each
    # other (they share no shingle, hence no band key)
    assert lsh_candidate_pairs(docs).count() == 0


def test_asof_join_handles_pre_epoch_events(spark):
    """Pre-1970 timestamps pack to negative unix_micros; without the
    positive offset, lexicographic MAX over the lpad'd pack inverts the
    order of negatives and picks the EARLIER event as latest."""
    import datetime as dt

    from client_data_ingester_spark.operators.events import (
        asof_join_orders_events,
    )

    orders = spark.createDataFrame(
        [(100, 7, dt.date(1971, 1, 1))],
        "o_orderkey long, o_custkey long, o_orderdate date",
    )
    events = spark.createDataFrame(
        [
            (1, 7, dt.datetime(1969, 12, 31, 23, 59, 51)),  # -9s
            (2, 7, dt.datetime(1969, 12, 31, 23, 59, 59)),  # -1s, LATEST
        ],
        "event_id long, user_id long, ts timestamp",
    )
    [row] = asof_join_orders_events(orders, events).collect()
    assert row["last_event_id"] == 2
    assert row["last_event_ts"] == dt.datetime(1969, 12, 31, 23, 59, 59)


def test_shard_checksums_see_null_content(spark):
    """A NULL-text row must be visible in the checksum, not just the
    count (regression: concat null-propagated the digest and bit_xor
    skipped it, so exports differing only in WHICH ids carry null text
    checksummed identically). '' and NULL and a literal '0' must all
    hash apart (prefix-free null flag)."""
    from client_data_ingester_spark.operators import export as EX

    a = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, None)], "doc_id long, text string"
    )
    ck = lambda df: {
        r["shard_id"]: (r["n_docs"], r["checksum"])
        for r in EX.shard_checksums(df, 1).collect()
    }
    assert ck(a) != ck(b)
    empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    null = spark.createDataFrame([(1, None)], "doc_id long, text string")
    zero = spark.createDataFrame([(1, "0")], "doc_id long, text string")
    assert len({ck(empty)[0], ck(null)[0], ck(zero)[0]}) == 3


def test_asof_join_includes_same_day_events(spark):
    """An event ON the order date (after midnight) must match: comparing
    ts <= DATE promoted the date to ITS midnight and silently excluded
    all same-day activity (regression — the bound is now strictly below
    the next day's midnight)."""
    import datetime as dt

    from client_data_ingester_spark.operators.events import (
        asof_join_orders_events,
    )

    orders = spark.createDataFrame(
        [(100, 7, dt.date(2024, 1, 2))],
        "o_orderkey long, o_custkey long, o_orderdate date",
    )
    events = spark.createDataFrame(
        [
            (1, 7, dt.datetime(2024, 1, 1, 9, 0, 0)),
            (2, 7, dt.datetime(2024, 1, 2, 10, 0, 0)),  # same day, LATEST
            (3, 7, dt.datetime(2024, 1, 3, 0, 0, 0)),  # next day: excluded
        ],
        "event_id long, user_id long, ts timestamp",
    )
    [row] = asof_join_orders_events(orders, events).collect()
    assert row["last_event_id"] == 2


def test_funnel_rejects_explicit_empty_steps(spark):
    """steps=[] must raise, not silently compute the default funnel."""
    import pytest as _pytest

    from client_data_ingester_spark.operators.events import funnel_steps

    ev = spark.createDataFrame(
        [(1, 1, "view")], "event_id long, user_id long, event_type string"
    )
    with _pytest.raises(ValueError, match="at least one step"):
        funnel_steps(ev, steps=[])


def test_json_props_agg_survives_dirty_payload(spark):
    """A non-integer props value must become NULL (its own bucket), not
    abort the job under ANSI mode."""
    import datetime as dt

    from client_data_ingester_spark.operators.events import json_props_agg

    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 1, "view", 1.0, '{"k": 7}'),
            (2, dt.datetime(2024, 1, 1), 2, "view", 1.0, '{"k": "abc"}'),
            (3, dt.datetime(2024, 1, 1), 3, "view", 1.0, '{"k": 3.7}'),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    rows = {r["k_bucket"]: r["n"] for r in json_props_agg(ev).collect()}
    assert rows[7] == 1
    assert rows[None] == 2


def test_nb_langid_model_out_release_unpersists(spark):
    """ADVICE r12: cache_model=True persisted the reduced model but gave
    the caller no handle to ever unpersist it. model_out now returns
    the trained (lp, classes) pair and an explicit release()."""
    from client_data_ingester_spark.operators import corpus as C

    rows = [
        (1, "der hund und die katze", "de"),
        (2, "the dog and the cat", "en"),
        (3, "die katze und der vogel", "de"),
        (4, "the cat and the bird", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    def persisted_ids():
        # ids, not a count: the ContextCleaner may release RDDs that
        # earlier tests pinned at any moment, so the session-wide total
        # can drop while this test runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted_ids()
    out: dict = {}
    scored = {
        r.doc_id: r.pred_lang
        for r in C.nb_language_scores(
            docs, cache_model=True, model_out=out
        ).collect()
    }
    assert scored == {1: "de", 2: "en", 3: "de", 4: "en"}
    pinned = persisted_ids() - before
    assert len(pinned) == 2  # cc + priors pinned
    # the trained model is reusable without retraining
    lp, classes = out["model"]
    again = {
        r.doc_id: r.pred_lang
        for r in C.nb_language_scores(docs, model=(lp, classes)).collect()
    }
    assert again == scored
    # release() frees exactly the cache_model persists
    out["release"]()
    assert not persisted_ids() - before  # nothing this test pinned is left


def test_nb_langid_model_out_without_cache_is_noop_release(spark):
    from client_data_ingester_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(1, "aaa bbb", "x"), (2, "ccc ddd", "y")],
        "doc_id long, text string, lang string",
    )
    out: dict = {}
    C.nb_language_scores(docs, cache_model=False, model_out=out).collect()
    out["release"]()  # no handles → harmless no-op
    assert "model" in out


def test_leakage_safe_split_carry_cols_passthrough(spark):
    """carry_cols threads named doc columns through the split join so
    consumers don't need the re-join; assignments must be identical to
    the 4-column form."""
    from client_data_ingester_spark.operators.text import leakage_safe_split

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    clusters = spark.createDataFrame(
        [(7, 3), (3, 3)], "doc_id long, cluster_id long"
    )
    wide = leakage_safe_split(docs, clusters, carry_cols=["text"])
    assert wide.columns == ["doc_id", "split_key", "bucket", "split", "text"]
    rows = {r["doc_id"]: r for r in wide.collect()}
    assert len(rows) == 50 and rows[11]["text"] == "t11"
    narrow = {
        r["doc_id"]: (r["split_key"], r["bucket"], r["split"])
        for r in leakage_safe_split(docs, clusters).collect()
    }
    assert narrow == {
        k: (r["split_key"], r["bucket"], r["split"]) for k, r in rows.items()
    }


def test_leakage_safe_split_carry_cols_collision_raises(spark):
    """Carrying a reserved output name (or the join's cluster_id) must
    fail loudly at the API edge, not as an ambiguous-reference
    AnalysisException deep in the plan (r15 ADVICE)."""
    from client_data_ingester_spark.operators.text import leakage_safe_split

    docs = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("cluster_id"),
        F.lit("y").alias("split"),
    )
    clusters = spark.createDataFrame(
        [(1, 1)], "doc_id long, cluster_id long"
    )
    for bad in (["cluster_id"], ["split"], ["split", "cluster_id"]):
        with pytest.raises(ValueError, match="collide"):
            leakage_safe_split(docs, clusters, carry_cols=bad)


def test_frozen_split_growth_yields_byte_identical_eval(spark, tmp_path):
    """The eval-freeze guarantee: after the corpus GROWS (new docs, and a
    bridge edge that merges two pinned clusters — the exact event that
    re-keys a live leakage_safe_split), applying the PINNED manifest via
    frozen_split keeps every pinned document's assignment byte-identical,
    while live re-splitting provably flips at least one pinned doc."""
    from client_data_ingester_spark.operators.dedup import duplicate_clusters
    from client_data_ingester_spark.operators.text import (
        build_split_index,
        frozen_split,
        leakage_safe_split,
        load_split_index,
    )

    docs_v1 = spark.range(100).select(F.col("id").alias("doc_id"))
    pairs_v1 = spark.createDataFrame(
        [(0, 1), (1, 2), (50, 51)], "doc_a long, doc_b long"
    )
    clus_v1 = duplicate_clusters(pairs_v1)
    path = str(tmp_path / "split_pin")
    build_split_index(docs_v1, clus_v1, path)
    manifest = {
        r["doc_id"]: r["split"]
        for r in load_split_index(spark, path).collect()
    }
    assert len(manifest) == 100

    # corpus grows; a new doc 150 bridges the {0,1,2} and {50,51} clusters
    docs_v2 = spark.range(160).select(F.col("id").alias("doc_id"))
    pairs_v2 = spark.createDataFrame(
        [(0, 1), (1, 2), (50, 51), (150, 2), (150, 50)],
        "doc_a long, doc_b long",
    )
    clus_v2 = duplicate_clusters(pairs_v2)

    live = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs_v2, clus_v2).collect()
    }
    # the merge re-keys {50,51} to min-id 0: live re-splitting FLIPS them
    # (md5 digest buckets: key 50 -> 89 -> eval at pin time; merged key 0
    # -> 16 -> train), and the merged cluster must not straddle
    assert manifest[50] == manifest[51] == "eval"
    assert live[50] == live[51] == live[0] == "train"

    frozen = {
        r["doc_id"]: (r["split"], r["frozen"])
        for r in frozen_split(
            docs_v2, load_split_index(spark, path), clusters=clus_v2
        ).collect()
    }
    assert len(frozen) == 160
    # pinned docs: byte-identical to the manifest, all marked frozen
    for i in range(100):
        assert frozen[i] == (manifest[i], True), i
    # the bridging doc joins a cluster with pinned members on both sides
    # only if their pinned splits straddle; either way it must adopt a
    # pinned side, eval-preferred
    sides = {manifest[i] for i in (0, 1, 2, 50, 51)}
    expect = "eval" if "eval" in sides else "train"
    assert frozen[150] == (expect, False)
    # new singletons: exactly the hash_split assignment
    from client_data_ingester_spark.operators.text import hash_split

    hs = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            spark.range(100, 150).select(F.col("id").alias("doc_id"))
        ).collect()
    }
    for i in range(100, 150):
        assert frozen[i] == (hs[i], False), i


def test_frozen_split_eval_protective_on_straddling_merge(spark, tmp_path):
    """When a refresh merges two pinned clusters whose pinned splits
    DIFFER, new members of the merged cluster must go to eval (a near-dup
    of a frozen eval doc in train contaminates training) while every
    pinned doc still keeps its pinned side."""
    from client_data_ingester_spark.operators.dedup import duplicate_clusters
    from client_data_ingester_spark.operators.text import (
        build_split_index,
        frozen_split,
        load_split_index,
        leakage_safe_split,
    )

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    # find two singleton ids with opposite hash_split sides, then pin
    base = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs, spark.createDataFrame([], "doc_id long, cluster_id long")
        ).collect()
    }
    t_id = next(i for i in range(100) if base[i] == "train")
    e_id = next(i for i in range(100) if base[i] == "eval")
    path = str(tmp_path / "pin2")
    build_split_index(
        docs, spark.createDataFrame([], "doc_id long, cluster_id long"), path
    )
    # growth: doc 200 near-dups BOTH pinned docs, merging their clusters
    docs_v2 = spark.range(100).union(
        spark.range(200, 201)
    ).select(F.col("id").alias("doc_id"))
    clus_v2 = duplicate_clusters(
        spark.createDataFrame(
            [(200, t_id), (200, e_id)], "doc_a long, doc_b long"
        )
    )
    frozen = {
        r["doc_id"]: (r["split"], r["frozen"])
        for r in frozen_split(
            docs_v2, load_split_index(spark, path), clusters=clus_v2
        ).collect()
    }
    assert frozen[t_id] == ("train", True)
    assert frozen[e_id] == ("eval", True)
    assert frozen[200] == ("eval", False)


def test_shingle_novelty_copy_scores_zero_fresh_scores_one(spark):
    """A verbatim copy of an earlier doc has novelty 0 (every shingle
    first occurred in the original), fresh text scores 1.0, and a half
    borrowed doc lands at the exact shingle fraction; min-doc-id is the
    first-occurrence tiebreak, so the ORIGINAL keeps novelty 1."""
    from client_data_ingester_spark.operators.corpus import shingle_novelty

    orig = "alpha beta gamma delta epsilon zeta"
    fresh = "one two three four five six"
    rows = [
        (1, orig),
        (2, orig),                      # verbatim copy -> 0
        (3, fresh),                     # all-new -> 1
        (4, "alpha beta gamma kappa mu nu xi"),  # part borrowed
        (5, "hi"),                      # < k words: whole text = 1 shingle
    ]
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_first_here"], r["novelty"])
        for r in shingle_novelty(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[5] == (1, 1, 1.0)  # its short shingle is unique here
    assert out[1] == (4, 4, 1.0)
    assert out[2] == (4, 0, 0.0)
    assert out[3] == (4, 4, 1.0)
    # doc 4: shingles of 7 words -> 5 shingles; only 'alpha beta gamma'
    # was seen before (docs share no other 3-shingle)
    n, first, nov = out[4]
    assert n == 5 and first == 4
    assert nov == 0.8


def test_fan_out_hashes_only_hashable_columns(spark):
    """xxhash64 rejects map values: fan_out keys the spread on the other
    columns, falls back to a keyless repartition when only maps are left,
    and keeps the plain all-columns hash when every column is hashable."""
    import io
    from contextlib import redirect_stdout

    from client_data_ingester_spark.operators.par import fan_out

    n = spark.sparkContext.defaultParallelism
    assert n > 1
    df = spark.range(40).selectExpr("id", "map('k', id) AS m").coalesce(1)
    for sub in (df, df.select("m")):
        out = fan_out(sub)
        assert out.rdd.getNumPartitions() == n
        assert out.count() == 40
    assert sorted(r.id for r in fan_out(df).collect()) == list(range(40))
    buf = io.StringIO()
    with redirect_stdout(buf):
        fan_out(df.select("id")).explain()
    assert "hashpartitioning(xxhash64(id" in buf.getvalue()
