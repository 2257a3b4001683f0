"""Group commit for same-tenant writer fleets (r15 verdict ask #4).

The optimistic-concurrency merge loop is correct and live, but its cost
is quadratic in fleet size on ONE tenant: every lost CAS round is a full
re-read + re-merge + re-stage, so N concurrent writers perform ~N²/2
merge jobs (measured in XPROC_CONTENTION.json: 8 writers → 34 attempts,
16 → 113 — 4.6× wall for 2× writers). OCC on a single table head is
inherently serial; the classical fix is GROUP COMMIT: batch k staged
merges into one CAS instead of one each.

Protocol (filesystem primitives only, in the committer's idiom — every
operation maps onto PUT / conditional-PUT / GET / LIST / DELETE):

1. A writer finishes parse → validate → fold exactly as before (its own
   id block already reserved, so ids never depend on apply order), then
   ENQUEUES: stages its folded ``updates`` relation as parquet under
   ``<root>/_MERGEQ/pending/<ticket>/`` plus a ``meta.json`` (tenant,
   mapped columns, batch timestamp, processed count). The ticket name is
   time-ordered-unique; membership is committed by the parquet
   ``_SUCCESS`` + meta pair.
2. It then tries to become the DRAINER (``drain.lock``, O_EXCL with a
   staleness TTL). Exactly one writer wins; the rest poll for their
   ticket's result marker.
3. The drainer lists pending tickets, groups them by tenant, reads each
   tenant's current snapshot ONCE, and applies the tickets as a CHAIN of
   the same pure ``merge_products`` the direct path uses — k tiny
   full-outer joins in one plan — then publishes every tenant's merged
   snapshot in ONE ``overwrite_partitions`` commit. k merges, one
   read, one stage, one CAS.
4. After the commit it writes a ``done/<ticket>.json`` result marker per
   applied ticket (then deletes the ticket), releases the lock, and
   waiting writers return their reports.

Liveness and crash-safety:

- A drainer that dies mid-drain leaves the lock to expire (TTL); any
  waiter steals it and re-drains. Tickets are only deleted AFTER their
  done marker is written.
- A drainer that dies AFTER the commit but BEFORE the markers leaves
  committed-but-pending tickets; the next drainer re-applies them.
  Re-application is IDEMPOTENT: the merge updates matched rows to the
  same values with the same per-ticket batch timestamp (carried in
  meta.json, not re-stamped), and the first apply's inserts now match
  as updates with unchanged ids — the table state is byte-identical
  (pinned by test_group_commit.py).
- An outside writer using the direct OCC path can race the drainer's
  commit; the drainer absorbs it with the same progress-based retry
  the direct path uses (bounded stall budget).

At 100 TB the same shape holds: tickets are folded update relations
(file-sized, small), the drain is one snapshot read + k broadcast-sized
joins + one partition overwrite — commit pressure on the hot tenant is
k× lower, and attempts grow ~linearly with fleet size
(XPROC_CONTENTION.json "group" fleets, N ∈ {8, 16, 32}).

Reference semantics parity: the applied result of draining tickets
t1..tk equals running the reference's serial ingests in ticket order
(B/ingestion/service.py:27-109 applies files transactionally one at a
time); the queue only changes WHO executes the merge, never its
definition.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_QUEUE_DIR = "_MERGEQ"
_PENDING = "pending"
_DONE = "done"
_LOCK = "drain.lock"

#: tickets applied per drain batch — bounds the join-chain depth in one
#: plan (k tiny full-outer joins; 16 keeps Catalyst analysis cheap)
MAX_DRAIN_BATCH = 16
#: a drain lock untouched for this long is presumed dead and stolen
DRAIN_LOCK_TTL_S = 60.0
#: how long a waiter polls for its result before re-trying the drain
#: role itself (also the lock-steal cadence)
POLL_S = 0.05


def _qdir(root: str, *parts: str) -> str:
    return os.path.join(root, _QUEUE_DIR, *parts)


class MergeTicket:
    """A staged, validated, foldable update set awaiting group commit."""

    def __init__(self, root: str, ticket_id: str):
        self.root = root
        self.ticket_id = ticket_id
        self.dir = _qdir(root, _PENDING, ticket_id)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.dir, "updates")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.dir, "meta.json")

    def meta(self) -> dict | None:
        try:
            with open(self.meta_path) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None

    def complete(self) -> bool:
        return (
            os.path.exists(os.path.join(self.data_dir, "_SUCCESS"))
            and self.meta() is not None
        )


def enqueue(
    table,
    updates: DataFrame,
    *,
    client_id: int,
    mapped_cols: list[str],
    batch_ts: str,
    id_base: int,
    id_span: int,
    processed_count: int,
) -> MergeTicket:
    """Stage a validated update set as a pending ticket. The parquet
    write commits membership (``_SUCCESS`` + meta); a crash mid-stage
    leaves an incomplete dir that drains skip and :func:`vacuum_queue`
    reclaims."""
    ticket_id = f"{time.time_ns():020d}-{uuid.uuid4().hex[:8]}"
    t = MergeTicket(table.root, ticket_id)
    os.makedirs(t.dir, exist_ok=True)
    updates.write.mode("overwrite").parquet(t.data_dir)
    meta = {
        "client_id": int(client_id),
        "mapped_cols": list(mapped_cols),
        "batch_ts": batch_ts,
        "id_base": int(id_base),
        "id_span": int(id_span),
        "processed_count": int(processed_count),
    }
    tmp = t.meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, t.meta_path)  # meta last: completes the ticket
    return t


def pending_tickets(root: str) -> list[MergeTicket]:
    base = _qdir(root, _PENDING)
    try:
        names = sorted(os.listdir(base))
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        t = MergeTicket(root, n)
        if t.complete():
            out.append(t)
    return out


def _result_path(root: str, ticket_id: str) -> str:
    return _qdir(root, _DONE, ticket_id + ".json")


def read_result(root: str, ticket_id: str) -> dict | None:
    try:
        with open(_result_path(root, ticket_id)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _write_result(root: str, ticket_id: str, payload: dict) -> None:
    os.makedirs(_qdir(root, _DONE), exist_ok=True)
    tmp = _result_path(root, ticket_id) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, _result_path(root, ticket_id))


@contextlib.contextmanager
def _drain_lock(root: str):
    """O_EXCL drain-role lock with mtime-TTL staleness steal. Yields
    True if acquired, False otherwise (caller polls and retries). Two
    drainers racing through a steal is SAFE (not just unlikely): the
    commit itself is OCC-protected, markers and deletions are
    idempotent, and a double-apply is a no-op by the batch_ts argument
    in the module docstring."""
    path = _qdir(root, _LOCK)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            age = time.time() - os.path.getmtime(path)
        except OSError:
            age = 0.0
        if age > DRAIN_LOCK_TTL_S:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)  # steal; next attempt races fairly
        yield False
        return
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield True
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)


def drain_batch(spark: SparkSession, table) -> list[str]:
    """Apply up to ``MAX_DRAIN_BATCH`` pending tickets in ONE commit.
    Returns the applied ticket ids (empty when the queue is idle)."""
    from .snapshot import SnapshotConflictError

    batch = pending_tickets(table.root)[:MAX_DRAIN_BATCH]
    if not batch:
        return []
    by_tenant: dict[int, list[MergeTicket]] = {}
    metas: dict[str, dict] = {}
    for t in batch:
        m = t.meta()
        if m is None:  # swept between list and read
            continue
        metas[t.ticket_id] = m
        by_tenant.setdefault(int(m["client_id"]), []).append(t)
    if not metas:
        return []
    max_top = max(
        int(m["id_base"]) + int(m["id_span"]) for m in metas.values()
    )

    # the drainer's own OCC loop against OUTSIDE (direct-path) writers;
    # queue-internal writers are all in this batch, so contention here
    # is rare — bounded like the direct path's stall budget
    # own loop, not commit_merge: its backoff could outlive DRAIN_LOCK_TTL_S
    last_err: SnapshotConflictError | None = None
    for _attempt in range(8):
        manifest = table.current_doc()
        try:
            table.overwrite_partitions(
                _union_states(spark, table, by_tenant, metas, manifest),
                sorted(by_tenant),
                props={"max_id": max_top} if max_top else None,
                expected_version=manifest.version,
            )
            break
        except SnapshotConflictError as e:
            last_err = e
            continue
    else:
        raise last_err  # type: ignore[misc]

    applied = []
    k = len(metas)
    for tid, m in metas.items():
        _write_result(
            table.root,
            tid,
            {
                "success": True,
                "processed_count": m["processed_count"],
                "group_commit_batch": k,
            },
        )
        shutil.rmtree(_qdir(table.root, _PENDING, tid), ignore_errors=True)
        applied.append(tid)
    return applied


def _union_states(spark, table, by_tenant, metas, manifest):
    """Chain each tenant's ticket merges over its pinned snapshot and
    union the per-tenant results for one multi-partition commit."""
    import datetime as _dt

    from ..ingestion.service import merge_products

    out = None
    for client_id, tickets in sorted(by_tenant.items()):
        state = table.read(
            spark,
            client_id,
            version=manifest.version if manifest.version else None,
        )
        for t in tickets:
            m = metas[t.ticket_id]
            updates = spark.read.parquet(t.data_dir)
            state = merge_products(
                state,
                updates,
                list(m["mapped_cols"]),
                client_id,
                False,
                _dt.datetime.fromisoformat(m["batch_ts"]),
                int(m["id_base"]),
            )
        out = state if out is None else out.unionByName(state)
    return out


def drain_or_wait(
    spark: SparkSession,
    table,
    ticket: MergeTicket,
    timeout: float = 600.0,
) -> dict:
    """Block until this ticket's result exists — by becoming the drainer
    or by waiting on one. Returns the result payload, annotated with
    whether THIS writer drove the drain.

    Outcome-unknown caveat (the same contract a DB client has after a
    lost connection mid-COMMIT): if this raises — drain error or
    timeout — the ticket REMAINS pending, and a later drain may still
    apply it. The caller's failure report therefore means "not known to
    have landed", not "provably not landed"; an operator reconciles via
    the queue dirs (pending = not applied, done marker = applied)."""
    deadline = time.monotonic() + timeout
    drained_by_me = False
    while time.monotonic() < deadline:
        res = read_result(table.root, ticket.ticket_id)
        if res is not None:
            res["group_commit_drainer"] = drained_by_me
            return res
        with _drain_lock(table.root) as held:
            if held:
                # re-check under the lock: a racer may have drained us
                if read_result(table.root, ticket.ticket_id) is None:
                    drain_batch(spark, table)
                    drained_by_me = True
                continue
        time.sleep(POLL_S)
    raise TimeoutError(
        f"group-commit ticket {ticket.ticket_id} unresolved after "
        f"{timeout}s (drainer wedged? inspect {_qdir(table.root)})"
    )


def vacuum_queue(root: str, grace_seconds: float = 3600.0) -> int:
    """Reclaim incomplete ticket dirs and stale result markers older
    than ``grace_seconds``. Returns the number of paths removed."""
    removed = 0
    now = time.time()
    base = _qdir(root, _PENDING)
    if os.path.isdir(base):
        for n in os.listdir(base):
            t = MergeTicket(root, n)
            try:
                age = now - os.path.getmtime(t.dir)
            except OSError:
                continue
            if not t.complete() and age > grace_seconds:
                shutil.rmtree(t.dir, ignore_errors=True)
                removed += 1
    done = _qdir(root, _DONE)
    if os.path.isdir(done):
        for n in os.listdir(done):
            p = os.path.join(done, n)
            try:
                if now - os.path.getmtime(p) > grace_seconds:
                    os.unlink(p)
                    removed += 1
            except OSError:
                continue
    return removed
