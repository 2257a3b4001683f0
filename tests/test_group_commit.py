"""Group commit (tables/mergequeue.py — r15 verdict ask #4): same-tenant
writer fleets batch k staged merges into one CAS. The contract under
test: draining tickets t1..tk produces EXACTLY the state of running the
same ingests serially in ticket order (the reference's one-transaction-
per-file semantics, B/ingestion/service.py:27-109), re-draining after a
crashed drainer is a byte-identical no-op, and the concurrent API path
reports per-writer success with the batch telemetry."""

import csv
import io
import threading

import pytest

from client_data_ingester_spark.ingestion import ParserConfig, ingest_data
from client_data_ingester_spark.schemas import CLIENT_PRODUCTS_SCHEMA
from client_data_ingester_spark.tables import SnapshotTable, mergequeue

CFG = ParserConfig(
    "csv",
    {
        "sku": ("sku", "text"),
        "title": ("title", "text"),
        "qty": ("stock_quantity", "integer"),
    },
)


def make_csv(rows) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(["sku", "title", "qty"])
    w.writerows(rows)
    return buf.getvalue().encode()


def table_state(spark, table, client_id=1):
    return sorted(
        (r.sku, r.title, r.stock_quantity, r.active)
        for r in table.read(spark, client_id).collect()
    )


def test_group_commit_matches_direct_path(spark, tmp_path):
    """One writer, group_commit on: the published state must equal the
    direct OCC path's byte for byte (the queue changes WHO commits,
    never the merge definition)."""
    f1 = make_csv([(f"A{i}", f"t{i}", i) for i in range(20)])
    f2 = make_csv([(f"A{i}", f"T{i}", "") for i in range(0, 20, 2)])

    direct = SnapshotTable(str(tmp_path / "direct"), CLIENT_PRODUCTS_SCHEMA)
    grouped = SnapshotTable(str(tmp_path / "queue"), CLIENT_PRODUCTS_SCHEMA)
    for t, gc in ((direct, False), (grouped, True)):
        r1 = ingest_data(spark, t, f1, CFG, client_id=1, group_commit=gc)
        r2 = ingest_data(spark, t, f2, CFG, client_id=1, group_commit=gc)
        assert r1.success and r2.success, (r1.message, r2.message)
    assert table_state(spark, direct) == table_state(spark, grouped)
    # queue path reports its telemetry
    r3 = ingest_data(
        spark, grouped, make_csv([("Z1", "z", 1)]), CFG, client_id=1,
        group_commit=True,
    )
    assert r3.stats["group_commit_batch"] >= 1
    assert isinstance(r3.stats["group_commit_drainer"], bool)


def _enqueue_raw(spark, table, rows, client_id=1):
    """Stage a ticket exactly as the service would (validated fold with a
    dense row index and a reserved id block), without draining."""
    import datetime as _dt

    from client_data_ingester_spark.ingestion.parsers import get_parser
    from client_data_ingester_spark.ingestion.service import stage_updates

    raw = get_parser("csv")(spark, make_csv(rows))
    with stage_updates(raw, CFG) as st:
        st.reserve_ids(table)
        return mergequeue.enqueue(
            table,
            st.updates,
            client_id=client_id,
            mapped_cols=st.mapped_cols,
            batch_ts=_dt.datetime(2024, 6, 1, 12, 0, 0).isoformat(),
            id_base=st.id_base,
            id_span=st.id_span,
            processed_count=st.processed_count,
        )


def test_drain_batch_applies_all_tickets_in_one_commit(spark, tmp_path):
    """Three pending tickets drain as ONE commit whose state equals the
    serial application in ticket order (later tickets win column-wise,
    nulls never overwrite)."""
    table = SnapshotTable(str(tmp_path / "t"), CLIENT_PRODUCTS_SCHEMA)
    t1 = _enqueue_raw(spark, table, [("S1", "a", 1), ("S2", "b", 2)])
    t2 = _enqueue_raw(spark, table, [("S1", "A", 10), ("S3", "c", 3)])
    t3 = _enqueue_raw(spark, table, [("S2", "B", 20), ("S4", "d", 4)])
    v0 = table.current_doc().version
    applied = mergequeue.drain_batch(spark, table)
    assert sorted(applied) == sorted(
        [t1.ticket_id, t2.ticket_id, t3.ticket_id]
    )
    assert table.current_doc().version == v0 + 1  # ONE commit for all 3
    state = table_state(spark, table)
    assert state == [
        ("S1", "A", 10, True),  # t2 wins over t1
        ("S2", "B", 20, True),  # t3 wins over t1
        ("S3", "c", 3, True),
        ("S4", "d", 4, True),
    ]
    # queue is empty and every ticket has a result marker
    assert mergequeue.pending_tickets(table.root) == []
    for t in (t1, t2, t3):
        res = mergequeue.read_result(table.root, t.ticket_id)
        assert res["success"] and res["group_commit_batch"] == 3


def test_redrain_after_crashed_marker_write_is_idempotent(spark, tmp_path):
    """A drainer that commits but dies before writing result markers
    leaves its tickets pending; the next drain re-applies them onto the
    already-updated head and the state must be BYTE-IDENTICAL (same
    per-ticket batch_ts, same reserved ids)."""
    import shutil

    table = SnapshotTable(str(tmp_path / "t"), CLIENT_PRODUCTS_SCHEMA)
    t1 = _enqueue_raw(spark, table, [("S1", "a", 1), ("S2", "b", 2)])
    # snapshot the pending ticket as it would survive a crash
    backup = str(tmp_path / "ticket_backup")
    shutil.copytree(t1.dir, backup)
    mergequeue.drain_batch(spark, table)
    before = table_state(spark, table)
    ids_before = sorted(
        r.id for r in table.read(spark, 1).select("id").collect()
    )
    lco_before = sorted(
        str(r.last_changed_on)
        for r in table.read(spark, 1).select("last_changed_on").collect()
    )
    # crash simulation: the ticket is back, its marker gone
    shutil.copytree(backup, t1.dir)
    done = mergequeue._result_path(table.root, t1.ticket_id)
    import os

    os.unlink(done)
    mergequeue.drain_batch(spark, table)
    assert table_state(spark, table) == before
    assert (
        sorted(r.id for r in table.read(spark, 1).select("id").collect())
        == ids_before
    )
    assert (
        sorted(
            str(r.last_changed_on)
            for r in table.read(spark, 1).select("last_changed_on").collect()
        )
        == lco_before
    )


def test_concurrent_writers_group_commit_liveness(spark, tmp_path):
    """4 threads, one tenant, group_commit on: every writer succeeds, the
    table holds the union, and the batch telemetry is present. (Thread-
    level check; the cross-process fleet is tools/bench_xproc_tenant.py
    with SPARK_GRAFT_XPROC_GROUP=1.)"""
    table = SnapshotTable(str(tmp_path / "t"), CLIENT_PRODUCTS_SCHEMA)
    reports = {}

    def writer(w):
        rows = [(f"W{w}_S{i}", f"w{w}t{i}", i) for i in range(25)]
        reports[w] = ingest_data(
            spark, table, make_csv(rows), CFG, client_id=1,
            group_commit=True,
        )

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert all(r.success for r in reports.values()), {
        w: r.message for w, r in reports.items() if not r.success
    }
    assert table.read(spark, 1).count() == 4 * 25
    assert all(
        r.stats["group_commit_batch"] >= 1 for r in reports.values()
    )
    # at least one writer actually drove a drain
    assert any(
        r.stats["group_commit_drainer"] for r in reports.values()
    )


def test_full_update_never_enqueues(spark, tmp_path):
    """full_update takes the direct path even with group_commit=True —
    its deactivation counts are defined against the exact pre-state."""
    table = SnapshotTable(str(tmp_path / "t"), CLIENT_PRODUCTS_SCHEMA)
    ingest_data(
        spark, table, make_csv([("S1", "a", 1), ("S2", "b", 2)]), CFG, 1
    )
    rep = ingest_data(
        spark, table, make_csv([("S1", "A", 9)]), CFG, 1,
        full_update=True, group_commit=True,
    )
    assert rep.success and rep.stats["deactivated_count"] == 1
    assert mergequeue.pending_tickets(table.root) == []
    state = dict(
        (r.sku, r.active) for r in table.read(spark, 1).collect()
    )
    assert state == {"S1": True, "S2": False}


def test_vacuum_queue_reclaims_incomplete_tickets(spark, tmp_path):
    import os

    table = SnapshotTable(str(tmp_path / "t"), CLIENT_PRODUCTS_SCHEMA)
    # a torn stage: ticket dir without _SUCCESS/meta
    torn = mergequeue.MergeTicket(table.root, "000-torn")
    os.makedirs(torn.data_dir)
    assert mergequeue.pending_tickets(table.root) == []  # never drained
    assert mergequeue.vacuum_queue(table.root, grace_seconds=0.0) == 1
    assert not os.path.exists(torn.dir)
