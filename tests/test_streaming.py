"""Streaming ingest: landing-dir CSV files merged per micro-batch via the
same merge as the batch path (SURVEY §2.9 / Phase 4)."""

import os

from pyspark.sql import functions as F

from client_data_ingester_spark.ingestion.mapping import ParserConfig
from client_data_ingester_spark.streaming import start_ingest_stream

CFG = ParserConfig(
    "csv",
    {
        "sku": ("sku", "text"),
        "title": ("title", "text"),
        "active": ("active", "boolean"),
    },
)


def test_stream_merges_files_and_upserts(spark, products_table, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (landing / "f1.csv").write_text("sku,title,active\nS1,First,1\nS2,Second,1\n")

    q = start_ingest_stream(
        spark,
        products_table,
        str(landing),
        ckpt,
        CFG,
        client_id=1,
        source_columns=["sku", "title", "active"],
    )
    q.awaitTermination(120)
    got = {
        r["sku"]: r.asDict()
        for r in products_table.read(spark, 1).collect()
    }
    assert set(got) == {"S1", "S2"}

    # second file updates S1 and inserts S3; availableNow re-run picks it up
    (landing / "f2.csv").write_text("sku,title,active\nS1,Updated,0\nS3,Third,1\n")
    q2 = start_ingest_stream(
        spark,
        products_table,
        str(landing),
        ckpt,
        CFG,
        client_id=1,
        source_columns=["sku", "title", "active"],
    )
    q2.awaitTermination(120)
    got = {
        r["sku"]: r.asDict()
        for r in products_table.read(spark, 1).collect()
    }
    assert set(got) == {"S1", "S2", "S3"}
    assert got["S1"]["title"] == "Updated"
    assert got["S1"]["active"] is False
    assert got["S2"]["title"] == "Second"  # untouched by second batch


def test_epoch_merge_reads_only_ingesting_clients_partition(
    spark, products_table, tmp_path
):
    """The ingest-stream latency bound (VERDICT r9 ask #3): per-batch merge
    cost is ∝ the INGESTING client's partition, never the table — the
    snapshot read every epoch merge starts from prunes to the client's
    directories at the MANIFEST level, before Spark ever lists a file.
    This is the structural bound behind the measured flat
    latency-vs-snapshot-size curve (PLANS.md: 20 batches, snapshot growing
    0 → 570k rows, per-batch commit latency flat at ~1.3-1.4 s): another
    tenant's partition can grow 1000x without adding a byte to this
    client's merge."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # client 2 = the "rest of the 100 TB table"
    (landing / "other.csv").write_text(
        "sku,title,active\n"
        + "".join(f"O{i},Other {i},1\n" for i in range(50))
    )
    q = start_ingest_stream(
        spark, products_table, str(landing), str(tmp_path / "ck2"), CFG,
        client_id=2, source_columns=["sku", "title", "active"],
    )
    q.awaitTermination(120)
    (landing / "mine.csv").write_text("sku,title,active\nS1,Mine,1\n")
    q = start_ingest_stream(
        spark, products_table, str(landing), str(tmp_path / "ck1"), CFG,
        client_id=1, source_columns=["sku", "title", "active"],
    )
    q.awaitTermination(120)
    manifest = products_table.current_manifest()
    other_dirs = manifest.partitions["2"]
    mine_dirs = manifest.partitions["1"]
    assert other_dirs and mine_dirs and set(other_dirs) != set(mine_dirs)
    # the epoch merge's left side is table.read(spark, client_id): its plan
    # must reference ONLY client 1's directories
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        products_table.read(spark, 1).explain("formatted")
    plan = buf.getvalue()
    assert all(d in plan for d in mine_dirs)
    assert all(d not in plan for d in other_dirs)


def test_stream_rate_limit_splits_batches_same_result(
    spark, products_table, tmp_path
):
    """reader_options pass-through: maxFilesPerTrigger=1 (the landing-zone
    rate limit that bounds micro-batch size during backfills) must split a
    multi-file drain into one micro-batch per file — visible in the epoch
    ledger and the progress history — and the merged result must be
    IDENTICAL to a single-batch drain, including last-write-wins ACROSS
    batches (a later file's row updates an earlier file's sku)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # file names order the source's processing; S1 appears in both files
    (landing / "a.csv").write_text("sku,title,active\nS1,Old,1\nS2,Two,1\n")
    (landing / "b.csv").write_text("sku,title,active\nS1,New,0\nS3,Three,1\n")
    q = start_ingest_stream(
        spark,
        products_table,
        str(landing),
        str(tmp_path / "ckpt"),
        CFG,
        client_id=1,
        source_columns=["sku", "title", "active"],
        reader_options={"maxFilesPerTrigger": 1},
    )
    q.awaitTermination(120)
    data_batches = [
        p for p in q.recentProgress if p.get("numInputRows", 0) > 0
    ]
    assert len(data_batches) == 2  # one micro-batch per landing file
    got = {
        r["sku"]: r.asDict() for r in products_table.read(spark, 1).collect()
    }
    assert set(got) == {"S1", "S2", "S3"}
    assert got["S1"]["title"] == "New"  # the later batch won
    assert got["S1"]["active"] is False


def test_stream_reader_options_override_csv_defaults(
    spark, products_table, tmp_path
):
    """reader_options are applied AFTER the CSV convention defaults, so a
    caller can override them (the docstring's pass-through contract): with
    nullValue remapped to 'NA', an NA title ingests as null while the
    default convention would have kept the literal string."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "f1.csv").write_text("sku,title,active\nS1,NA,1\n")
    q = start_ingest_stream(
        spark,
        products_table,
        str(landing),
        str(tmp_path / "ckpt"),
        CFG,
        client_id=1,
        source_columns=["sku", "title", "active"],
        reader_options={"nullValue": "NA"},
    )
    q.awaitTermination(120)
    [row] = products_table.read(spark, 1).collect()
    assert row["sku"] == "S1"
    assert row["title"] is None


def test_stream_garbage_boolean_aborts_batch(spark, products_table, tmp_path):
    """Batch/stream contract parity: an invalid cell anywhere in the
    micro-batch aborts the WHOLE batch with zero rows changed (the batch
    path's validate-then-abort gate), and the raw batch lands in the
    dead-letter directory with the abort reason."""
    landing = tmp_path / "landing"
    landing.mkdir()
    dl = str(tmp_path / "dead_letter")
    (landing / "f1.csv").write_text(
        "sku,title,active\nS1,Good,1\nS2,Bad,maybe\n"
    )
    q = start_ingest_stream(
        spark,
        products_table,
        str(landing),
        str(tmp_path / "ckpt"),
        CFG,
        client_id=1,
        source_columns=["sku", "title", "active"],
        dead_letter_dir=dl,
    )
    q.awaitTermination(120)
    assert products_table.read(spark, 1).count() == 0  # zero rows changed
    dlq = spark.read.parquet(dl)
    assert dlq.count() == 2  # the whole raw batch, not just the bad row
    reason = dlq.select("_reason").first()[0]
    assert "invalid value" in reason and "active" in reason


def test_stream_replay_is_exactly_once_for_empty_sku_inserts(
    spark, products_table, tmp_path
):
    """Empty-sku rows always-insert (batch contract), which is not naturally
    idempotent — the per-stream epoch ledger committed atomically with the
    snapshot publish must make a replayed micro-batch a no-op."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # quoted empty sku: Spark's CSV reader nulls an UNQUOTED empty field,
    # while a quoted "" survives as the empty string (the always-insert path)
    (landing / "f1.csv").write_text(
        'sku,title,active\n"",NoSku,1\nS1,First,1\n'
    )
    common = dict(
        parser_config=CFG,
        client_id=1,
        source_columns=["sku", "title", "active"],
        stream_id="replay-test",
    )
    q = start_ingest_stream(
        spark, products_table, str(landing), str(tmp_path / "ckpt1"), **common
    )
    q.awaitTermination(120)
    assert products_table.read(spark, 1).count() == 2

    # simulate a crash replay: a FRESH checkpoint re-reads the same file as
    # epoch 0 again, but the same stream_id finds epoch 0 already committed
    q2 = start_ingest_stream(
        spark, products_table, str(landing), str(tmp_path / "ckpt2"), **common
    )
    q2.awaitTermination(120)
    rows = products_table.read(spark, 1).collect()
    assert len(rows) == 2  # empty-sku row NOT appended twice


def test_stream_merge_retries_on_publish_conflict(
    spark, products_table, tmp_path
):
    """The streaming merge runs the batch path's optimistic-concurrency
    loop: a publish that loses the race (SnapshotConflictError) must force
    a re-read + re-merge and then commit — not drop the batch or die."""
    from client_data_ingester_spark.tables.snapshot import (
        SnapshotConflictError,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "f1.csv").write_text("sku,title,active\nS1,One,1\n")

    real = products_table.overwrite_partitions
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate a concurrent writer having landed first
            raise SnapshotConflictError("simulated interleaved publish")
        return real(*args, **kwargs)

    products_table.overwrite_partitions = flaky
    try:
        q = start_ingest_stream(
            spark,
            products_table,
            str(landing),
            str(tmp_path / "ckpt"),
            CFG,
            client_id=1,
            source_columns=["sku", "title", "active"],
        )
        q.awaitTermination(120)
    finally:
        products_table.overwrite_partitions = real
    assert calls["n"] == 2  # one conflict, one committed retry
    got = {r["sku"] for r in products_table.read(spark, 1).collect()}
    assert got == {"S1"}


def test_stream_micro_batch_fixed_cost_spark_jobs(
    spark, products_table, tmp_path
):
    """A conflict-free 200-row micro-batch onto an existing tenant runs the
    batch path's single staging aggregate — no separate validation job,
    no standalone dense-index collect — so its run group holds at most
    7 Spark jobs (9 when the stream kept its own copy of the staging)."""
    from client_data_ingester_spark.ingestion import ingest_data

    def csv(lo, hi, tag):
        return "sku,title,active\n" + "".join(
            f"S{i},{tag}{i},1\n" for i in range(lo, hi)
        )

    assert ingest_data(
        spark, products_table, csv(0, 2000, "t").encode(), CFG, 1
    ).success
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "f1.csv").write_text(csv(1900, 2100, "u"))
    q = start_ingest_stream(
        spark,
        products_table,
        str(landing),
        str(tmp_path / "ckpt"),
        CFG,
        client_id=1,
        source_columns=["sku", "title", "active"],
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = products_table.read(spark, 1).collect()
    assert len(rows) == 2100
    assert sum(r["title"].startswith("u") for r in rows) == 200
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) <= 7, len(jobs)


PARITY_CFG = ParserConfig(
    "csv",
    {
        "sku": ("sku", "text"),
        "title": ("title", "text"),
        "active": ("active", "boolean"),
        "price": ("max_price", "decimal"),
    },
)
PARITY_COLS = ["sku", "title", "active", "price"]


def test_stream_and_batch_ingest_agree(spark, tmp_path):
    """The same files through ingest_data and through start_ingest_stream
    leave identical tables (ids and last_changed_on aside): an upsert,
    duplicate skus with nulls, an empty-sku row and a full update. An
    invalid file fails the upload with exactly the reason the stream
    dead-letters."""
    from collections import Counter

    from client_data_ingester_spark.ingestion import ingest_data
    from client_data_ingester_spark.schemas import CLIENT_PRODUCTS_SCHEMA
    from client_data_ingester_spark.tables import SnapshotTable

    batch_t = SnapshotTable(str(tmp_path / "batch"), CLIENT_PRODUCTS_SCHEMA)
    stream_t = SnapshotTable(str(tmp_path / "stream"), CLIENT_PRODUCTS_SCHEMA)
    header = ",".join(PARITY_COLS) + "\n"
    files = [
        # plain upsert into an empty tenant
        ("S1,One,1,1.50\nS2,Two,1,2.00\nS3,Three,0,\n", False),
        # updates with nulls, a duplicate sku folded column-wise, an
        # always-insert empty sku
        (
            'S1,,,9.99\nS4,Four,1,4.00\nS4,,0,\nS2,Two-b,,\n"",NoSku,1,5.00\n',
            False,
        ),
        # full update: everything not named here is deactivated
        ("S1,One-c,1,\nS5,Five,1,5.50\n", True),
    ]

    def run_stream(i, full_update, dead_letter_dir=None):
        q = start_ingest_stream(
            spark,
            stream_t,
            str(tmp_path / f"landing{i}"),
            str(tmp_path / f"ckpt{i}"),
            PARITY_CFG,
            client_id=1,
            source_columns=PARITY_COLS,
            full_update=full_update,
            dead_letter_dir=dead_letter_dir,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    def land(i, body):
        landing = tmp_path / f"landing{i}"
        landing.mkdir()
        path = landing / "f.csv"
        path.write_text(header + body)
        return str(path)

    for i, (body, full_update) in enumerate(files):
        path = land(i, body)
        rep = ingest_data(
            spark, batch_t, path, PARITY_CFG, 1, full_update=full_update
        )
        assert rep.success, rep.message
        run_stream(i, full_update)

    def state(t):
        return Counter(
            tuple(
                v
                for k, v in r.asDict().items()
                if k not in ("id", "last_changed_on")
            )
            for r in t.read(spark, 1).collect()
        )

    got = state(stream_t)
    assert got == state(batch_t)
    assert sum(got.values()) == 6  # S1-S5 and the empty-sku insert

    path = land(len(files), "S9,Bad,maybe,1.00\n")
    rep = ingest_data(spark, batch_t, path, PARITY_CFG, 1)
    dl = str(tmp_path / "dead_letter")
    run_stream(len(files), False, dead_letter_dir=dl)
    [reason] = [r["_reason"] for r in spark.read.parquet(dl).collect()]
    assert not rep.success
    assert rep.message == "Error processing data: " + reason
    assert state(stream_t) == got  # zero rows changed
