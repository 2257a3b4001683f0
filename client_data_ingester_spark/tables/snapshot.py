"""Versioned-snapshot parquet tables with an atomic commit point.

Replaces the reference's Postgres transactionality (single ``db.commit()`` per
ingested file, B/ingestion/service.py:108) in a pure-parquet world. Design
goals, in order:

1. **Atomicity**: a writer stages new parquet directories, then commits a
   versioned manifest through the ``tables.committer`` seam — a conditional
   put is the commit point (POSIX: O_EXCL + fsync'd pointer swap; object
   store: ``If-None-Match`` PUT with the head derived by LIST). A crash
   before the commit point leaves the old manifest — readers never see a
   partial ingest (SURVEY §1.5 / §4.2.4).
2. **No full-table rewrite per ingest**: the manifest maps partition key
   (``client_id``) → data directories, Iceberg-manifest-style. Ingesting one
   client's file writes only that client's new directory and re-points the
   manifest; other clients' files are referenced untouched. At 100 TB with
   thousands of tenants this is the difference between an O(file) and an
   O(table) write. Past ~10k tenants the manifest itself becomes the
   write-amplification bound — ``manifest_layout="sharded"`` splits it into
   a manifest list + per-group manifest files (commit cost
   O(clients/groups + groups), retention GC an O(commit) deletion ledger,
   ``vacuum()`` the full-sweep maintenance path; measured: 87 KB metadata
   per one-tenant commit at 1M tenants vs ~60 MB single-blob).
3. **Partition pruning**: a tenant-scoped read resolves only that tenant's
   directories from the manifest — file-level pruning before Spark even plans
   the scan (the manifest is the coarse index; parquet row-group stats do the
   rest).
4. **Concurrent-reader safety**: old versions are kept for ``keep_versions``
   generations before GC, so an in-flight reader of manifest N survives a
   writer publishing N+1.

This is a deliberately small, crash-safe subset of what Delta/Iceberg provide
(those jars aren't in this image — SURVEY §4.1 "Transactionality").
Concurrent writers (the reference serializes per-tenant writes through
Postgres row locks; since round 13 disjoint tenants here are genuinely
concurrent) compose four mechanisms:

- **staging outside the lock**: the expensive Spark data write happens with
  NO mutual exclusion (staged dirs are invisible until a manifest references
  them); ``_STAGING.<dir>`` intent markers shield in-flight dirs from a
  racer's commit-path GC and from ``vacuum`` (which reclaims them only past
  ``orphan_grace_seconds``);
- a per-table lock file (``_MANIFEST.lock``, O_CREAT|O_EXCL) held only
  across the short commit section (read head → validate → encode →
  conditional put), so same-host writers can't both compute version N+1;
- the O_EXCL/conditional-put versioned manifest is the true COMMIT POINT —
  a collision (a writer that bypassed the lock, e.g. cross-host) re-derives
  the head, re-points the advisory pointer, and the commit loop REBASES:
  the manifest delta is re-encoded onto the new head without recomputing
  data; only a racer that touched the SAME partitions (``expected_version``)
  surfaces ``SnapshotConflictError`` for the caller to re-merge;
- surrogate-id minting reserves disjoint blocks up front through the
  ``_IDSEQ`` conditional-put CAS chain (``reserve_id_block``), so id
  collisions cannot force cross-tenant serialization.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import sql_ident
from .committer import Committer, PosixCommitter

_MANIFEST = "_MANIFEST"
_GROUP_PREFIX = "_MGROUP."
_IDSEQ = "_IDSEQ"
_STAGING_PREFIX = "_STAGING."

# How often a live writer refreshes its staging-intent mtime (the vacuum
# grace clock). Far below any sane orphan_grace_seconds (default 1h) so a
# legitimately slow Spark stage — plausible at 100 TB — never ages out
# mid-write (r13 ADVICE); tests monkeypatch it down to exercise the beat.
_INTENT_KEEPALIVE_INTERVAL = 60.0

# Rebase-loop budget for the commit section (version-CAS collisions from
# lock-BYPASSING racers, e.g. cross-host writers on shared storage; the
# in-process write lock already serializes same-host commits). Each
# attempt is manifest-only work (no data recompute), so a generous budget
# costs nothing; the jitter desynchronizes a cross-host herd the same way
# the caller-level merge backoff does (measured in bench_tenants part F).
_REBASE_MAX_ATTEMPTS = 12


def _rebase_backoff(attempt: int) -> None:
    time.sleep(random.uniform(0.0, min(0.5, 0.02 * 2**attempt)))


class SnapshotConflictError(RuntimeError):
    """A concurrent writer raced this one (lock timeout or version collision)."""


@dataclass
class Manifest:
    version: int
    # partition value (as string) -> list of data dir names (relative to root)
    partitions: dict[str, list[str]] = field(default_factory=dict)
    # table-level metadata carried across versions (e.g. max assigned
    # surrogate id — avoids a full-table max() scan per ingest)
    props: dict = field(default_factory=dict)
    # dir name -> partition values whose rows in that dir are STALE: a
    # multi-partition commit writes one dir for several values; when one
    # of them is later overwritten, its old rows remain inside the dir
    # the OTHER values still reference. Full-table reads anti-filter
    # these (tenant-scoped reads never see them — they only scan the
    # tenant's own dirs and filter on the tenant key).
    stale: dict[str, list[str]] = field(default_factory=dict)

    def to_json(self) -> str:
        obj = {
            "version": self.version,
            "partitions": self.partitions,
            "props": self.props,
        }
        if self.stale:
            obj["stale"] = self.stale
        return json.dumps(obj)

    @classmethod
    def from_json(cls, payload: str) -> "Manifest":
        obj = json.loads(payload)
        return cls(
            version=obj["version"],
            partitions=obj["partitions"],
            props=obj.get("props", {}),
            stale=obj.get("stale", {}),
        )


class _DocManifest(Manifest):
    """A lazy :class:`Manifest` view over a version doc — the writers'
    return value. The hot callers (ingest service, streaming ingest)
    read only ``version``/``props``; under the sharded layout eagerly
    materializing ``partitions`` to build a return nobody reads would
    cost one GET per group per commit. First access loads them."""

    def __init__(self, doc: "_VersionDoc"):
        self._doc = doc
        self._parts: dict | None = None
        self._stale: dict | None = None
        self.version = doc.version
        self.props = doc.props

    @property
    def partitions(self) -> dict:  # type: ignore[override]
        if self._parts is None:
            self._parts = self._doc.all_partitions()
        return self._parts

    @partitions.setter
    def partitions(self, value: dict) -> None:
        self._parts = value

    @property
    def stale(self) -> dict:  # type: ignore[override]
        if self._stale is None:
            self._stale = self._doc.stale_map()
        return self._stale

    @stale.setter
    def stale(self, value: dict) -> None:
        self._stale = value


class _VersionDoc:
    """A parsed version file, group-lazy for the sharded layout.

    Version files are SELF-DESCRIBING (``layout`` key, absent = the
    legacy single-blob form), so a table can hold a mix of layouts —
    e.g. across a migration — and every reader resolves each version
    by what that version actually wrote. For the sharded layout,
    ``partitions_for`` loads exactly ONE group file (O(clients/groups)
    bytes); only ``all_partitions`` pays the full O(clients) load."""

    def __init__(self, table: "SnapshotTable", obj: dict):
        self._table = table
        self.obj = obj
        self.version: int = obj["version"]
        self.props: dict = obj.get("props", {})
        self._group_cache: dict[int, dict] = {}

    @property
    def layout(self) -> str:
        return self.obj.get("layout", "single")

    @property
    def n_groups(self) -> int:
        """The group count THIS VERSION was written with. Resolution
        must use this, never the constructing table's ``manifest_groups``
        — a table handle constructed with a different group count (or a
        version written before a ``reshard()``) would otherwise hash
        tenants into the wrong group and read them as empty."""
        return int(self.obj.get("n_groups", self._table.manifest_groups))

    @property
    def groups(self) -> dict[str, str]:
        """gid (as str) -> group-file sha (sharded layout only)."""
        return self.obj.get("groups", {})

    def group_content(self, gid: int) -> dict:
        """{"parts": {value: [dirs]}, "shared": [dirs]} for one group."""
        if gid in self._group_cache:
            return self._group_cache[gid]
        sha = self.groups.get(str(gid))
        if sha is None:
            content = {"parts": {}, "shared": []}
        else:
            payload = self._table.committer.get(
                self._table._group_path(gid, sha)
            )
            if payload is None:
                raise ValueError(
                    f"group file g{gid}.{sha} referenced by version "
                    f"{self.version} is missing (vacuumed too aggressively?)"
                )
            content = json.loads(payload.decode())
        self._group_cache[gid] = content
        return content

    def partitions_for(self, value: str) -> list[str]:
        if self.layout == "single":
            return self.obj["partitions"].get(value, [])
        return self.group_content(
            self._table._group_of(value, self.n_groups)
        )["parts"].get(value, [])

    def all_partitions(self) -> dict[str, list[str]]:
        if self.layout == "single":
            return dict(self.obj["partitions"])
        out: dict[str, list[str]] = {}
        for gid in self.groups:
            out.update(self.group_content(int(gid))["parts"])
        return out

    def stale_map(self) -> dict[str, list[str]]:
        """dir -> values whose rows inside that (shared) dir were
        superseded by a later single-value overwrite (see Manifest.stale)."""
        if self.layout == "single":
            return dict(self.obj.get("stale", {}))
        out: dict[str, list[str]] = {}
        for gid in self.groups:
            for d, vals in self.group_content(int(gid)).get(
                "stale", {}
            ).items():
                out.setdefault(d, []).extend(vals)
        return out

    def to_manifest(self) -> Manifest:
        return Manifest(
            version=self.version,
            partitions=self.all_partitions(),
            props=self.props,
            stale=self.stale_map(),
        )


class SnapshotTable:
    def __init__(
        self,
        root: str,
        schema: T.StructType,
        partition_col: str = "client_id",
        keep_versions: int = 3,
        committer: Committer | None = None,
        manifest_layout: str = "single",
        manifest_groups: int = 64,
    ):
        if manifest_layout not in ("single", "sharded"):
            raise ValueError(
                f"manifest_layout must be 'single' or 'sharded', got "
                f"{manifest_layout!r}"
            )
        if manifest_groups < 1:
            raise ValueError("manifest_groups must be >= 1")
        if partition_col not in schema.fieldNames():
            # fail at construction, not at the first write's unresolved-
            # column AnalysisException (e.g. a users/clients table left on
            # the default partition_col='client_id' absent from its schema)
            raise ValueError(
                f"partition_col {partition_col!r} is not a column of the "
                f"table schema {schema.fieldNames()}"
            )
        self.root = root
        self.schema = schema
        self.partition_col = partition_col
        self.keep_versions = keep_versions
        # storage-commit seam: POSIX rename protocol by default;
        # PointerFileCommitter for object-store-shaped backends (no
        # rename anywhere — the head manifest is derived by LISTing the
        # conditional-put version files)
        self.committer = committer or PosixCommitter()
        # manifest layout: "single" (one JSON blob, rewritten whole per
        # commit — fine to ~10k tenants, measured) or "sharded"
        # (Iceberg-shaped manifest list + per-group manifest files: a
        # commit rewrites only the groups its partitions hash into, so
        # write amplification is O(clients/groups + groups) instead of
        # O(clients)). Self-describing per version — switching the
        # layout on an existing table migrates it at the next commit.
        self.manifest_layout = manifest_layout
        self.manifest_groups = manifest_groups
        os.makedirs(root, exist_ok=True)

    # ---- manifest plumbing -------------------------------------------------

    def _manifest_path(self, version: int | None = None) -> str:
        if version is None:
            return os.path.join(self.root, _MANIFEST)
        return os.path.join(self.root, f"{_MANIFEST}.v{version}")

    def _group_path(self, gid: int, sha: str) -> str:
        return os.path.join(self.root, f"{_GROUP_PREFIX}g{gid}.{sha}.json")

    def _group_of(self, value: str, n_groups: int | None = None) -> int:
        # md5 (the package-wide cross-engine-determinism convention) so
        # the value->group mapping is stable across sessions/engines.
        # ``n_groups`` lets callers resolve under a specific VERSION's
        # group count (see _VersionDoc.n_groups) instead of the
        # constructor's.
        return int(hashlib.md5(value.encode()).hexdigest()[:8], 16) % (
            self.manifest_groups if n_groups is None else n_groups
        )

    def _max_committed_version(self) -> int:
        """Highest versioned-manifest number on disk (-1 = none): the
        true committed head, independent of the advisory pointer."""
        best = -1
        for name in self.committer.list_prefix(self.root, _MANIFEST):
            suffix = name[len(_MANIFEST) :]
            if suffix.startswith(".v") and suffix[2:].isdigit():
                best = max(best, int(suffix[2:]))
        return best

    # ---- surrogate-id sequence ---------------------------------------------

    def _seq_path(self, k: int) -> str:
        return os.path.join(self.root, f"{_IDSEQ}.v{k}")

    def _seq_slots(self) -> list[int]:
        """Id-sequence slot numbers on disk (may be empty). Routed
        through the committer's LIST so a real store adapter's
        consistency behavior (declared via ``consistent_list``) is what
        the reservation verify actually exercises."""
        out = []
        for name in self.committer.list_prefix(self.root, _IDSEQ + ".v"):
            s = name[len(_IDSEQ) + 2 :]
            if s.isdigit():
                out.append(int(s))
        return out

    def _seq_head(self) -> tuple[int, int | None]:
        """(highest sequence file number, its value) — (0, None) when no
        sequence exists yet (a table that has only seen serial writers)."""
        for _ in range(100):
            best = max(self._seq_slots(), default=0)
            if not best:
                return 0, None
            payload = self.committer.get(self._seq_path(best))
            if payload is not None:
                return best, int(payload.decode())
            # the head file vanished between LIST and GET — only GC of
            # an OLDER file can do that (the winner of k+1 deletes k-1,
            # so a deleted k implies k+1 and k+2 exist); re-list sees
            # strictly newer heads, so this terminates with progress
        raise SnapshotConflictError(
            "id-sequence head unreadable after 100 re-lists"
        )

    def reserve_id_block(self, n: int) -> int:
        """Atomically reserve ``n`` surrogate ids; returns ``base`` — the
        caller owns ids ``base+1 .. base+n`` exclusively.

        This is how every writer mints surrogate ids: instead of minting
        from the manifest's ``max_id`` and conflicting (full merge
        recompute) whenever ANY writer advanced it, each writer
        CAS-reserves a disjoint block up front — a DB sequence in object-store primitives (the reference
        gets this from its Postgres sequence). The sequence is a chain of
        conditional-put files ``_IDSEQ.v{k}`` whose content is the next
        unreserved id; reserving = create ``v{k+1}`` with value+n. Gaps
        (crashed reservers, update-only files) burn id-space, never
        uniqueness — identical to a DB sequence's rollback gaps.

        Initialization bridges from the serial world: with no sequence
        files the base comes from the manifest's ``max_id``, so a table's
        first reserving writer continues exactly where earlier commits
        left off (their written ids already raised ``max_id``, see the
        monotone fold in ``_stage_and_commit``). From then on the
        sequence, not the manifest, is the id authority: a writer that
        minted from ``max_id`` instead cannot see in-flight reservations
        and could hand out ids a reserver already owns, which is why the
        table layer offers no such mode.

        Retention: a verified winner of ``v{k+1}`` sweeps every slot
        below ``v{k}``, keeping at most two live files in steady state;
        the invariant "a deleted slot implies a higher slot exists"
        makes the LIST→GET race in ``_seq_head`` safely re-listable
        (see there).

        ABA guard (a real bug the threaded reservation test caught):
        because old slot NUMBERS are deleted, a reserver stale by ≥3
        slots can win ``put_if_absent`` on a RECYCLED slot and believe
        it owns a block some earlier winner already handed out. A win
        is therefore only trusted after a verify LIST shows no slot
        above ours: a zombie re-creation always has higher slots (its
        slot was deleted by the winner of slot+2), so it self-aborts,
        deletes its file, and retries against the true head. The verify
        can also abort a LEGITIMATE winner whose successor landed
        before its LIST — that block is burned (a gap, like a rolled-
        back DB sequence), never duplicated. Two LISTs + ≤1 small PUT
        per reservation."""
        if n <= 0:
            raise ValueError(f"reserve_id_block needs n >= 1, got {n}")
        if not self.committer.consistent_list:
            # HARD precondition, not a docstring caveat: the zombie-
            # reservation guard is a verify LIST that must see every
            # slot already PUT — on an eventually-consistent store a
            # stale LIST lets a recycled-slot win hand out a DUPLICATE
            # id block with no loud failure, so refuse up front
            raise RuntimeError(
                f"committer {self.committer.name!r} declares "
                "consistent_list=False: id-block reservation requires "
                "read-after-write-consistent LIST (see the committer "
                "module's store requirements); use a store with strong "
                "LIST consistency"
            )
        for _ in range(200):
            k, val = self._seq_head()
            if val is None:
                # bridge from the TRUE committed head, not the advisory
                # pointer: a writer that crashed between the commit
                # point and the pointer publish leaves the pointer's
                # max_id behind the committed one, and seeding from it
                # would hand out a block overlapping already-committed
                # ids (r13 review)
                head = self._doc_at(max(self._max_committed_version(), 0))
                val = int(
                    (head.props if head is not None else {}).get("max_id", 0)
                )
            if not self.committer.put_if_absent(
                self._seq_path(k + 1), str(val + n).encode()
            ):
                continue
            slots = self._seq_slots()
            if max(slots) > k + 1:
                # zombie (or raced) win — never hand out this block
                self.committer.delete(self._seq_path(k + 1))
                continue
            # verified winner: sweep every slot below k (keeping k as the
            # _seq_head LIST→GET fallback) — aborted winners and crashed
            # reservers can't accumulate litter
            for j in slots:
                if j < k:
                    self.committer.delete(self._seq_path(j))
            return val
        raise SnapshotConflictError(
            "id-sequence reservation lost the CAS 200 times; "
            "pathological writer contention"
        )

    # ---- staging intents ------------------------------------------------

    def _intent_path(self, dir_name: str) -> str:
        return os.path.join(self.root, _STAGING_PREFIX + dir_name)

    def _stage_intent(self, dir_name: str) -> None:
        """Mark ``dir_name`` as an in-flight staged write. Data staging
        now happens OUTSIDE the write lock (so concurrent writers'
        Spark jobs overlap), which means a racer's commit-path GC sweep
        or a vacuum() can run while this dir is half-written and not
        yet referenced by any manifest — the intent file is what tells
        them "not garbage, in flight". Removed after the commit (the
        manifest reference protects the dir from then on) or with the
        staged dir on failure; a crashed writer's leaked intent+dir
        fall to vacuum(orphan_grace_seconds)."""
        self.committer.put_atomic(
            self._intent_path(dir_name), str(os.getpid()).encode()
        )

    def _clear_intent(self, dir_name: str) -> None:
        with contextlib.suppress(OSError):
            self.committer.delete(self._intent_path(dir_name))

    def _refresh_intent(self, dir_name: str) -> None:
        """Bump the intent's mtime — the clock vacuum's grace reads.
        Routed through the committer seam: a re-PUT refreshes
        LastModified on a real object store, where a plain utime has no
        equivalent."""
        with contextlib.suppress(OSError):
            self.committer.put_atomic(
                self._intent_path(dir_name), str(os.getpid()).encode()
            )

    def _start_intent_keepalive(self, dir_name: str):
        """Keep a staging intent FRESH for as long as the write is alive;
        returns a stop() callable for the writer's ``finally``.

        vacuum's grace is keyed to the intent file's mtime; without a
        refresh, a legitimate Spark stage running longer than
        ``orphan_grace_seconds`` (default 1h — plausible at the design's
        100 TB scale) that races a vacuum gets its staged dir reclaimed
        and must restage (r13 ADVICE). A daemon heartbeat touches the
        intent every ``_INTENT_KEEPALIVE_INTERVAL`` seconds while the
        stage+commit runs, so only a CRASHED writer's intent ever ages
        out — exactly the writer the grace exists to reclaim. The thread
        is pure-local (one utime/minute), and a crash kills it with the
        process, freezing the mtime clock."""
        stop = threading.Event()

        def _beat() -> None:
            while not stop.wait(_INTENT_KEEPALIVE_INTERVAL):
                self._refresh_intent(dir_name)

        t = threading.Thread(
            target=_beat, name=f"intent-keepalive-{dir_name}", daemon=True
        )
        t.start()

        def _stop() -> None:
            stop.set()
            t.join(timeout=5.0)

        return _stop

    def _intent_dirs(self) -> set[str]:
        return {
            name[len(_STAGING_PREFIX) :]
            for name in self.committer.list_prefix(
                self.root, _STAGING_PREFIX
            )
        }

    def current_doc(self) -> _VersionDoc:
        """The current version file, parsed but group-lazy: O(groups)
        bytes, no partition materialization. The cheap accessor for
        writers and version/props readers (the ingest hot path)."""
        payload = self.committer.read_current(
            self._manifest_path(), os.path.join(self.root, _MANIFEST)
        )
        if payload is None:
            return _VersionDoc(self, {"version": 0, "partitions": {}})
        return _VersionDoc(self, json.loads(payload.decode()))

    def _doc_at(self, version: int) -> _VersionDoc | None:
        if version == 0:
            return _VersionDoc(self, {"version": 0, "partitions": {}})
        payload = self.committer.get(self._manifest_path(version))
        if payload is None:
            return None
        return _VersionDoc(self, json.loads(payload.decode()))

    def current_manifest(self) -> Manifest:
        """Fully-materialized view (all partitions). O(clients) under
        the sharded layout — tools and full readers only; writers and
        the ingest path use ``current_doc``."""
        return self.current_doc().to_manifest()

    def _manifest_at(self, version: int) -> Manifest | None:
        """The manifest as of ``version`` (None if GC'd past the horizon)."""
        doc = self._doc_at(version)
        return None if doc is None else doc.to_manifest()

    @contextlib.contextmanager
    def _write_lock(self, timeout: float = 60.0, poll: float = 0.05):
        """Per-table writer lock (O_CREAT|O_EXCL lock file).

        Held across the commit section (read head → check → encode →
        conditional put) so concurrent writers serialize instead of both
        publishing version N+1 and silently losing one writer's partitions
        (the lost-update race). Data staging runs outside it."""
        path = os.path.join(self.root, _MANIFEST + ".lock")
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    raise SnapshotConflictError(
                        f"writer lock {path} held past {timeout}s; another "
                        "writer is active (or crashed — remove the lock file "
                        "after confirming no writer is running)"
                    ) from None
                time.sleep(poll)
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)

    def _publish(self, manifest: Manifest) -> None:
        """Publish a fully-materialized manifest in the single-blob
        layout (tests and legacy callers)."""
        self._commit_version(manifest.version, manifest.to_json().encode())

    def _commit_version(self, version: int, payload: bytes) -> None:
        """The commit point + pointer publication + retention GC.

        The versioned file is created via conditional put: if this exact
        version was already published by a racing writer, fail loudly
        instead of overwriting its commit (and later GC-ing its data
        directories)."""
        versioned = self._manifest_path(version)
        # the conditional put IS the commit point: at most one writer
        # wins this version (POSIX: O_CREAT|O_EXCL; object store:
        # If-None-Match / if-generation-match 0)
        won = self.committer.put_if_absent(versioned, payload)
        if not won and self.committer.get(versioned) == payload:
            # SELF-WIN with a lost response (r13 verdict ask #3): on a
            # real store the conditional PUT can succeed while the
            # client sees a 5xx/timeout — the SDK's retry then gets
            # "already exists" FOR OUR OWN COMMIT. Treating that as a
            # foreign conflict is worse than wasted work: the caller's
            # cleanup path could delete a staged dir this committed
            # manifest references. The payload embeds this attempt's
            # unique staged-dir name (uuid), so byte-equality proves
            # the committed object is ours — proceed as the winner.
            won = True
        if not won:
            # Self-heal a wedged head before surfacing the conflict: a
            # writer that crashed BETWEEN the commit point and the
            # pointer publish leaves the pointer at N-1 while version N
            # exists — under the POSIX committer every later publish
            # would recompute N, lose this put, and conflict forever
            # until recover() ran manually (ADVICE r12). Re-pointing at
            # the true max committed version makes the caller's re-read
            # see the committed head and retry against N+1. (Pointer
            # publication is advisory, so re-publishing here is safe
            # even when the collision is a live racing writer — the
            # pointer-file committer derives heads by LIST and treats
            # this as a harmless cache refresh.)
            best = self._max_committed_version()
            if best >= version:
                self.committer.publish_pointer(
                    self._manifest_path(), self._manifest_path(best)
                )
            raise SnapshotConflictError(
                f"manifest version {version} already published — "
                "a concurrent writer won this commit; re-read and retry"
            )
        # pointer publication AFTER the commit point is advisory: the
        # POSIX impl fsyncs the copy before os.replace (power loss must
        # not journal the rename without the data blocks); the
        # pointer-file impl derives the head from LIST and treats the
        # pointer as a cache
        self.committer.publish_pointer(self._manifest_path(), versioned)
        obj = json.loads(payload.decode())
        if obj.get("layout", "single") == "sharded":
            self._gc_ledger(version)
        else:
            self._gc_full_sweep(version)

    def _live_refs(self, versions: Iterable[int]):
        """(data dirs, group-file names, version-file names) referenced by
        the committed ``versions`` still on disk: the live set both the
        commit-path sweep and ``vacuum`` keep."""
        dirs: set[str] = set()
        groups: set[str] = set()
        manifests: set[str] = set()
        for v in versions:
            doc = self._doc_at(v)
            if doc is None:
                continue
            manifests.add(os.path.basename(self._manifest_path(v)))
            for ds in doc.all_partitions().values():
                dirs.update(ds)
            for gid, sha in doc.groups.items():
                groups.add(os.path.basename(self._group_path(int(gid), sha)))
        return dirs, groups, manifests

    def _gc_full_sweep(self, latest_version: int) -> None:
        """Single-layout retention: recompute the live set from the kept
        versions and sweep the root listing. O(table entries) per commit
        — correct at the single layout's tenant scale; the sharded
        layout replaces this with the O(commit) ledger walk below."""
        horizon = latest_version - self.keep_versions
        if horizon <= 0:
            return
        # ORDER MATTERS: snapshot the dir listing BEFORE the intent
        # listing. Staging (outside the write lock) puts the intent
        # marker before creating the dir, so a writer racing this sweep
        # either staged before the dir listing (its intent is then seen
        # below and shields the dir) or after it (its dir isn't in the
        # snapshot at all). Listing intents first had a window — stage
        # lands between the two listings — where a half-written dir got
        # swept mid-Spark-write, which can surface as a silently-torn
        # COMMITTED dir (rmtree races the parquet job commit).
        listing = self.committer.list_prefix(self.root, "")  # full LIST
        staging = self._intent_dirs()
        # The live set spans the kept versions up to the TRUE committed
        # head, derived AFTER both listings: a lock-BYPASSING racer
        # (cross-host writer on shared storage) may have COMMITTED a
        # version above ours and cleared its intent after our intent
        # listing. A commit landing after this check still had its
        # intent alive at the intent listing (intents clear only
        # post-commit), so its dirs are staging-shielded instead (r13
        # review).
        live_dirs, live_groups, _ = self._live_refs(
            range(max(1, horizon), self._max_committed_version() + 1)
        )
        for name in listing:
            full = os.path.join(self.root, name)
            if name.startswith(_GROUP_PREFIX):
                # group files written by older sharded versions of a
                # table now publishing single-layout manifests
                if name not in live_groups:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(full)
            elif name.startswith(_MANIFEST):
                suffix = name[len(_MANIFEST) :]
                if suffix.startswith(".v") and suffix[2:].isdigit():
                    if int(suffix[2:]) < horizon:
                        os.unlink(full)
            elif os.path.isdir(full) and name not in live_dirs:
                # a dir no kept version references is garbage UNLESS a
                # concurrent writer is mid-stage on it (staging happens
                # outside the write lock; the intent file is its shield)
                if name not in staging:
                    shutil.rmtree(full, ignore_errors=True)

    def _gc_ledger(self, latest_version: int) -> None:
        """Sharded-layout retention: O(commit), no root listing.

        Each sharded version file carries the deletion ledger its commit
        computed exactly: ``removed_dirs`` (single-owner data dirs its
        writes displaced — referenced only by versions OLDER than it)
        and ``freed_groups`` (group files it replaced — ditto, and group
        shas are salted with the gid AND the writing version so a freed
        sha can never be another group's — or a later identical
        rewrite's — live file). Both become safe to delete the moment the
        retention horizon reaches the version that recorded them. The
        walk descends from the horizon until the first already-deleted
        version file, so an interrupted GC self-heals on the next
        publish. Shared dirs (multi-partition commits) are never
        ledger-deleted — ``vacuum()`` is their maintenance path."""
        horizon = latest_version - self.keep_versions
        if horizon <= 0:
            return
        v = horizon
        while v >= 1:
            path = self._manifest_path(v)
            payload = self.committer.get(path)
            if payload is None:
                break
            try:
                obj = json.loads(payload.decode())
            except (json.JSONDecodeError, UnicodeDecodeError):
                obj = {}
            for d in obj.get("removed_dirs", []):
                shutil.rmtree(
                    os.path.join(self.root, d), ignore_errors=True
                )
            for gref in obj.get("freed_groups", []):
                self.committer.delete(
                    self._group_path(int(gref[0]), gref[1])
                )
            if v < horizon:
                self.committer.delete(path)
            v -= 1

    # ---- commit encoding -----------------------------------------------------

    @staticmethod
    def _group_payload(content: dict) -> bytes:
        obj = {
            "parts": content.get("parts", {}),
            "shared": sorted(content.get("shared", [])),
        }
        stale = {
            d: sorted(set(vs))
            for d, vs in content.get("stale", {}).items()
            if vs
        }
        if stale:
            obj["stale"] = stale
        return json.dumps(obj, sort_keys=True).encode()

    def _write_group(self, gid: int, content: dict, version: int) -> str:
        """Write one group manifest file, content-addressed within its
        group AND the writing version. Both salts are load-bearing for
        the deletion ledger: the gid salt keeps two groups with
        identical content (e.g. both empty) from sharing a file, and
        the VERSION salt keeps a later commit that reproduces a group's
        exact prior content from reusing a sha an intermediate
        version's ``freed_groups`` ledger has already scheduled for
        deletion — without it, the horizon reaching that intermediate
        version would delete a group file the newest version still
        references (ADVICE r12)."""
        payload = self._group_payload(content)
        sha = hashlib.md5(
            f"g{gid}:v{version}:".encode() + payload
        ).hexdigest()[:16]
        # idempotent: same content + same target version => same name; a
        # concurrent identical write losing the conditional put changes
        # nothing (the racer then loses the version commit point anyway)
        self.committer.put_if_absent(self._group_path(gid, sha), payload)
        return sha

    def _encode_commit(
        self,
        doc: _VersionDoc,
        new_version: int,
        values: list[str],
        dir_name: str,
        new_props: dict,
    ) -> bytes:
        """Encode the next version file for a commit that points every
        partition in ``values`` at ``dir_name`` and carries the rest of
        the table forward by reference."""
        if self.manifest_layout == "single":
            parts = doc.all_partitions()
            stale = {d: list(vs) for d, vs in doc.stale_map().items()}
            displaced: list[tuple[str, str]] = []
            for v in values:
                for d in parts.get(v, []):
                    if d != dir_name:
                        displaced.append((v, d))
                parts[v] = [dir_name]
            referenced = {d for ds in parts.values() for d in ds}
            for v, d in displaced:
                # the displaced dir is still referenced by OTHER values:
                # v's old rows inside it are now stale for full reads
                if d in referenced and v not in stale.setdefault(d, []):
                    stale[d].append(v)
            stale = {
                d: sorted(vs) for d, vs in stale.items() if d in referenced
            }
            return Manifest(
                version=new_version,
                partitions=parts,
                props=new_props,
                stale=stale,
            ).to_json().encode()
        # sharded: rewrite ONLY the groups the written partitions hash
        # into; every other group rides forward as an untouched sha.
        # The group count is ADOPTED from the head doc when it is
        # already sharded — a handle constructed with a different
        # manifest_groups must not scatter this commit's partitions
        # under a foreign modulus (reshard() is the explicit way to
        # change the count); the constructor value applies only on the
        # single→sharded migration commit.
        ng = doc.n_groups if doc.layout == "sharded" else self.manifest_groups
        changed: dict[int, list[str]] = {}
        if doc.layout == "single" and doc.obj.get("partitions"):
            # layout migration: this commit regroups the whole single
            # blob, and every migrated group must land in the new version
            # file even if this commit doesn't touch it
            migrated = self._regroup(doc, ng)
            doc = _VersionDoc(
                self,
                {
                    "version": doc.version,
                    "layout": "sharded",
                    "n_groups": ng,
                    "groups": {},
                    "props": doc.props,
                },
            )
            doc._group_cache = migrated
            changed = {gid: [] for gid in migrated}
        groups_map = dict(doc.groups)
        shared_commit = len(values) > 1  # one dir backing many partitions
        for v in values:
            changed.setdefault(self._group_of(v, ng), []).append(v)
        removed: list[str] = []
        freed: list[list] = []
        for gid, vals in sorted(changed.items()):
            content = doc.group_content(gid)
            parts = dict(content.get("parts", {}))
            shared = set(content.get("shared", []))
            stale = {
                d: list(vs)
                for d, vs in content.get("stale", {}).items()
            }
            for v in vals:
                for d in parts.get(v, []):
                    if d == dir_name:
                        continue
                    if d in shared:
                        # another partition may still reference this dir
                        # (possibly in another group): v's rows inside it
                        # are stale for full reads from now on; the dir
                        # itself is vacuum()'s job
                        if v not in stale.setdefault(d, []):
                            stale[d].append(v)
                    else:
                        # single-owner: dies with its partition via this
                        # version's deletion ledger
                        removed.append(d)
                parts[v] = [dir_name]
            if shared_commit:
                shared.add(dir_name)
            live = {d for ds in parts.values() for d in ds}
            content = {
                "parts": parts,
                "shared": sorted(shared & live),
                "stale": stale,
            }
            old_sha = groups_map.get(str(gid))
            if parts:
                sha = self._write_group(gid, content, new_version)
                if old_sha is not None and old_sha != sha:
                    freed.append([gid, old_sha])
                groups_map[str(gid)] = sha
            elif old_sha is not None:
                freed.append([gid, old_sha])
                del groups_map[str(gid)]
        return self._sharded_payload(
            new_version, ng, groups_map, new_props, removed, freed
        )

    @staticmethod
    def _sharded_payload(version, n_groups, groups_map, props, removed, freed):
        """A sharded version file: the manifest list plus this commit's
        deletion ledger (see _gc_ledger)."""
        return json.dumps(
            {
                "version": version,
                "layout": "sharded",
                "n_groups": n_groups,
                "groups": groups_map,
                "props": props,
                "removed_dirs": sorted(set(removed)),
                "freed_groups": freed,
            }
        ).encode()

    def _regroup(self, doc: _VersionDoc, n_groups: int) -> dict[int, dict]:
        """Every partition, stale entry and shared marker of ``doc``
        regrouped under ``n_groups``: gid -> group content. A single-blob
        doc never tracked which dirs back several partitions, so all of
        its dirs are conservatively marked shared — never ledger-deleted;
        vacuum() reclaims them once genuinely unreferenced."""
        parts = doc.all_partitions()
        if doc.layout == "sharded":
            shared = {
                d
                for gid in doc.groups
                for d in doc.group_content(int(gid)).get("shared", [])
            }
        else:
            shared = {d for ds in parts.values() for d in ds}
        grouped: dict[int, dict] = {}

        def slot(v: str) -> dict:
            return grouped.setdefault(
                self._group_of(v, n_groups),
                {"parts": {}, "shared": set(), "stale": {}},
            )

        for v, ds in parts.items():
            g = slot(v)
            g["parts"][v] = list(ds)
            g["shared"].update(d for d in ds if d in shared)
        # stale entries follow each stale VALUE's group (a stale-only
        # value may have no live partition entry — its group must still
        # carry the filter)
        for d, vs in doc.stale_map().items():
            for v in vs:
                slot(v)["stale"].setdefault(d, []).append(v)
        for g in grouped.values():
            g["shared"] = sorted(g["shared"])
        return grouped

    # ---- read --------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        partition_value: object | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Read the current snapshot; tenant-scoped reads prune at the
        manifest level (only that tenant's directories are scanned).

        ``version`` time-travels to an older snapshot (within the
        ``keep_versions`` retention horizon — the same property that makes
        in-flight readers safe across a publish makes historical reads
        free: the manifest for version N still names N's directories).

        Additive schema evolution: constructing the table with a WIDENED
        schema (new nullable columns appended) reads every version — the
        explicit-schema parquet read resolves columns by name, so files
        written before the widening fill the new columns with NULL, time
        travel included; reading under a narrower schema prunes the extra
        columns (contract pinned by tests/test_schema_evolution.py)."""
        if version is not None:
            doc = self._doc_at(version)
            if doc is None:
                raise ValueError(
                    f"version {version} is not available (GC horizon is "
                    f"{self.keep_versions} versions)"
                )
        else:
            doc = self.current_doc()
        if partition_value is not None:
            # group-scoped resolution: under the sharded layout this
            # loads ONE group file — O(clients/groups), not O(clients)
            dirs = doc.partitions_for(str(partition_value))
        else:
            dirs = sorted(
                {d for ds in doc.all_partitions().values() for d in ds}
            )
        if not dirs:
            return spark.createDataFrame([], schema=self.schema)
        if partition_value is not None:
            # Dir-level pruning already happened; keep the predicate for
            # parquet row-group stats + correctness if dirs are shared
            # (it also drops any OTHER tenant's stale rows in a shared
            # dir — a tenant read never needs the stale map).
            paths = [os.path.join(self.root, d) for d in dirs]
            return (
                spark.read.schema(self.schema)
                .parquet(*paths)
                .filter(F.col(self.partition_col) == F.lit(partition_value))
            )
        # full read: shared dirs may hold rows of values that were later
        # overwritten elsewhere (this version's stale map records exactly
        # which) — those dirs are scanned with an anti-filter; everything
        # else rides one plain multi-path scan
        stale = doc.stale_map()
        dtype = self.schema[self.partition_col].dataType
        clean = [d for d in dirs if not stale.get(d)]
        parts = []
        if clean:
            parts.append(
                spark.read.schema(self.schema).parquet(
                    *[os.path.join(self.root, d) for d in clean]
                )
            )
        for d in dirs:
            vals = stale.get(d)
            if not vals:
                continue
            # stored keys are strings; render them in the column's type
            # the same way changes.py does (try_cast, so a key that can't
            # round-trip never silently drops live rows — it just doesn't
            # match). Null-safe: a NULL partition key must survive the
            # anti-filter unless 'None' itself is the stale value (bare
            # ~isin() is NULL for NULL inputs and would drop the row).
            # For a STRING partition column the str(None) key convention
            # conflates NULL with the literal "None" — writes treat them
            # as one partition (overwrite_partitions keys on str(v)), so
            # the stale filter must drop BOTH when "None" is stale, or a
            # literal-"None" tenant's superseded rows leak into full
            # reads forever (ADVICE r12).
            uniq = sorted(set(vals))
            pc = F.col(self.partition_col)
            in_keys = [v for v in uniq if v != "None"]
            if "None" in uniq and isinstance(dtype, T.StringType):
                in_keys.append("None")
            is_stale = F.coalesce(
                pc.isin(*[F.lit(v).try_cast(dtype) for v in in_keys])
                if in_keys
                else F.lit(False),
                F.lit(False),
            )
            if "None" in uniq:
                is_stale = is_stale | pc.isNull()
            parts.append(
                spark.read.schema(self.schema)
                .parquet(os.path.join(self.root, d))
                .filter(~is_stale)
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # ---- write -------------------------------------------------------------

    def cast_to_schema(self, df: DataFrame) -> DataFrame:
        """``df``'s columns in schema order, each cast to its schema type:
        the projection every write stages. SQL text, not Column trees — a
        ``Column.cast(DataType)`` costs ~29 py4j round trips, a fixed cost
        paid per column on every commit."""
        return df.selectExpr(
            *[
                f"CAST({sql_ident(f.name)} AS {f.dataType.simpleString()})"
                f" AS {sql_ident(f.name)}"
                for f in self.schema.fields
            ]
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_values: Iterable[object],
        props: Mapping[str, object] | None = None,
        expected_version: int | None = None,
    ) -> Manifest:
        """Replace the listed partitions with ``df``'s rows, atomically.

        ``df`` must contain only rows belonging to ``partition_values``.
        Other partitions are carried forward by reference (no rewrite).

        Optimistic concurrency: callers that computed ``df`` as a MERGE
        against a snapshot read pass the manifest version they read
        (``expected_version``). Under the write lock, if any of the written
        partitions' directory entries changed since that version, the merge
        was computed from stale data and publishing it would silently drop
        the racing writer's rows — ``SnapshotConflictError`` is raised
        instead and the caller re-reads + re-merges (the reference gets this
        serialization for free from Postgres row locks). Surrogate ids come
        from ``reserve_id_block``; ``props["max_id"]`` is a floor for the
        monotone id ledger, never a guard.
        """
        values = [str(v) for v in partition_values]

        def check(doc: _VersionDoc) -> None:
            if expected_version is None or doc.version == expected_version:
                return
            expected = self._doc_at(expected_version)
            if expected is None or any(
                doc.partitions_for(v) != expected.partitions_for(v)
                for v in values
            ):
                raise SnapshotConflictError(
                    f"partition(s) {values} changed since version "
                    f"{expected_version} (now {doc.version}); re-read and "
                    "retry the merge"
                )

        def encode(doc, version, _written, dir_name, new_props) -> bytes:
            return self._encode_commit(doc, version, values, dir_name, new_props)

        return self._stage_and_commit(df, check, encode, props)

    def overwrite_all(
        self, df: DataFrame, expected_version: int | None = None
    ) -> Manifest:
        """Full-table replace (tests/bootstrap and the auth layer's tiny
        tables — never the ingest path).

        ``expected_version`` is the read-modify-write guard: callers that
        derived ``df`` from a snapshot read pass the version they read, and
        a publish that landed in between raises ``SnapshotConflictError``
        instead of silently dropping the racer's rows (the caller re-reads
        and retries — see AuthService._rmw). The replaced partitions are
        the values the write job itself observed."""

        def check(doc: _VersionDoc) -> None:
            if expected_version is not None and doc.version != expected_version:
                raise SnapshotConflictError(
                    f"table advanced to v{doc.version} since the caller "
                    f"read v{expected_version}; re-read and retry"
                )

        return self._stage_and_commit(df, check, self._encode_replace_all)

    def _stage_and_commit(
        self, df: DataFrame, check, encode, props=None
    ) -> Manifest:
        """Stage ``df`` as a new data dir, then commit a version that
        references it: the one write protocol behind every data write.

        ``check(doc)`` runs under the write lock against the head doc and
        raises ``SnapshotConflictError`` when the head moved in a way the
        caller's data cannot survive. ``encode(doc, version, written,
        dir_name, props)`` returns the version file's bytes; ``written``
        is the sorted partition values the write job observed."""
        # ---- stage OUTSIDE the write lock ---------------------------------
        # The Spark job that materializes ``df`` is the expensive part of a
        # commit; holding the lock across it serialized every concurrent
        # writer's data write end-to-end. Staged dirs are invisible until a
        # manifest references them, so staging needs no mutual exclusion —
        # only protection from a racer's commit-path GC / vacuum sweeping a
        # dir no manifest references yet, which the staging-intent marker
        # provides (see _stage_intent). The version in the dir name is a
        # readability hint (the head observed at stage time + 1); the
        # commit below may land at a higher version after a rebase.
        dir_name = (
            f"v{self.current_doc().version + 1:06d}-{uuid.uuid4().hex[:8]}"
        )
        out = os.path.join(self.root, dir_name)
        self._stage_intent(dir_name)
        stop_keepalive = self._start_intent_keepalive(dir_name)
        committed = False
        reached_commit = False
        try:
            # The written partition values and max_id are observed ON the
            # write job itself (pyspark Observation), so they fold over
            # exactly the rows written without a read-back action. max_id
            # must come from the DATA, not the caller's row count: insert
            # ids are id_base + row-index + 1 and the row index is sparse
            # (monotonically_increasing_id puts partition p's rows at
            # p·2^33+n), so assigned ids can exceed any count-derived bound
            # — trusting the caller here let a later ingest re-assign live
            # ids. Both metrics are idempotent under task retry (a set
            # union and a max), so the accumulator-backed values are
            # retry-safe.
            obs = Observation()
            metrics = [F.collect_set(self.partition_col).alias("_vals")]
            if "id" in self.schema.fieldNames():
                metrics.append(F.max("id").alias("_max_id"))
            self.cast_to_schema(df).observe(obs, *metrics).write.mode(
                "overwrite"
            ).parquet(out)
            seen = obs.get
            written = sorted(str(v) for v in seen["_vals"] or [])
            data_max_id = seen.get("_max_id")
            # ---- commit loop: manifest-only work per attempt ---------------
            # A losing writer REBASES instead of recomputing: on a version
            # collision (a racer that bypassed the in-process lock won the
            # conditional put), re-read the head and re-encode this commit's
            # delta onto it. The staged data never moves; only the few
            # touched manifest groups are rewritten. Data-level staleness
            # (``check``: the racer touched data this write was derived
            # from) still surfaces as SnapshotConflictError to the caller,
            # whose re-merge is the one genuine data recompute.
            last: SnapshotConflictError | None = None
            for _rebase in range(_REBASE_MAX_ATTEMPTS):
                if _rebase:
                    # a lost CAS means a lock-bypassing racer is live:
                    # jitter before re-entering the lock so a cross-host
                    # herd doesn't lockstep-collide on every version
                    _rebase_backoff(_rebase)
                with self._write_lock():
                    doc = self.current_doc()
                    check(doc)
                    if not os.path.isdir(out) or not os.path.exists(
                        self._intent_path(dir_name)
                    ):
                        # an over-aggressive vacuum(orphan_grace) reclaimed
                        # the stage mid-flight; the data must be restaged.
                        # The INTENT marker is the authoritative check —
                        # vacuum deletes it BEFORE the dir, and an rmtree
                        # racing a still-running Spark write can leave a
                        # recreated-but-torn dir whose isdir() passes (r13
                        # review); the intent cannot be recreated, so its
                        # absence fails the commit loudly. Checked under
                        # the lock vacuum holds, so the answer is race-free.
                        raise SnapshotConflictError(
                            f"staged dir {dir_name} was reclaimed before "
                            "commit (vacuum grace too aggressive?); re-stage"
                        )
                    new_version = doc.version + 1
                    new_props = {**doc.props, **(props or {})}
                    if "max_id" in new_props or data_max_id is not None:
                        # the ledger is MONOTONE: a caller's floor (e.g. a
                        # reserved block top) must never lower it below a
                        # concurrent later-block writer's already-committed
                        # value, and the written data raises it past any
                        # sparse-row-index overshoot
                        new_props["max_id"] = max(
                            int(new_props.get("max_id", 0)),
                            int(doc.props.get("max_id", 0)),
                            int(data_max_id or 0),
                        )
                    payload = encode(
                        doc, new_version, written, dir_name, new_props
                    )
                    reached_commit = True
                    try:
                        self._commit_version(new_version, payload)
                        committed = True
                        break
                    except SnapshotConflictError as e:
                        # the put provably LOST — version N belongs to the
                        # racer, nothing of ours is referenced; rebase
                        reached_commit = False
                        last = e
            if not committed:
                raise last or SnapshotConflictError(
                    f"lost the version race {_REBASE_MAX_ATTEMPTS} times"
                )
        except BaseException as e:
            # clean the staged dir ONLY when the commit point was
            # provably not reached (or provably lost: a version
            # collision). An exception AFTER the conditional put —
            # pointer publish or GC raising — leaves a COMMITTED
            # version referencing this dir; deleting it would
            # corrupt the table. Such dirs are live; a genuinely
            # failed put inside _commit_version leaks one staged
            # dir for vacuum(), the correct bias.
            if not committed and (
                not reached_commit or isinstance(e, SnapshotConflictError)
            ):
                shutil.rmtree(out, ignore_errors=True)
            raise
        finally:
            # after a successful commit the manifest reference protects
            # the dir; after a cleanup there is nothing to protect; a
            # process crash skips this and vacuum's grace reclaims both
            stop_keepalive()
            self._clear_intent(dir_name)
        return _DocManifest(self.current_doc())

    def compact(
        self,
        spark: SparkSession,
        partition_value: object,
        target_files: int = 1,
    ) -> Manifest:
        """Rewrite one partition's data into ``target_files`` parquet files.

        Every ingest writes the merged partition with the session's shuffle
        parallelism, so a hot tenant accumulates ~shuffle.partitions small
        files per ingest generation. Compaction is data-identical maintenance:
        read the current partition, coalesce (narrow — no shuffle), publish as
        a new version through the same locked/atomic path as any write.
        Readers of the old version are unaffected (keep_versions retention).

        The read is PINNED to the manifest version observed at entry and the
        publish carries that version as ``expected_version`` — an ingest that
        lands between the read and the publish makes the publish conflict
        (instead of silently rolling the partition back to pre-ingest data),
        and the compaction retries against the new version.
        """
        for _attempt in range(5):
            if _attempt:
                # maintenance yields to the live writer it keeps losing
                # to: jittered pause before re-reading, same policy as
                # the ingest merge loop (each attempt here is a full
                # partition rewrite, so the budget stays small)
                _rebase_backoff(_attempt)
            version = self.current_doc().version
            df = self.read(
                spark, partition_value, version=version or None
            ).coalesce(max(1, target_files))
            try:
                return self.overwrite_partitions(
                    df, [partition_value], expected_version=version
                )
            except SnapshotConflictError:
                continue
        raise SnapshotConflictError(
            f"compact({partition_value!r}) lost the publish race 5 times; "
            "a writer is continuously updating this partition"
        )

    def _encode_replace_all(
        self,
        doc: _VersionDoc,
        new_version: int,
        vals: list[str],
        dir_name: str,
        props: dict,
    ) -> bytes:
        """Encode a full-table replacement: every previous partition is
        dropped, every value in ``vals`` points at ``dir_name``."""
        if self.manifest_layout == "single":
            return Manifest(
                version=new_version,
                partitions={v: [dir_name] for v in vals},
                props=props,
            ).to_json().encode()
        removed: list[str] = []
        freed: list[list] = []
        if doc.layout == "sharded":
            for gid_str, old_sha in doc.groups.items():
                content = doc.group_content(int(gid_str))
                shared = set(content.get("shared", []))
                for ds in content.get("parts", {}).values():
                    for d in ds:
                        if d not in shared and d != dir_name:
                            removed.append(d)
                freed.append([int(gid_str), old_sha])
        # (single-layout predecessor: displaced dirs' ownership is
        # unknown — vacuum() reclaims them; nothing to free)
        # adopt the head doc's group count like _encode_commit does: a
        # full replace through a handle constructed with the default
        # manifest_groups must not silently revert a reshard()
        ng = doc.n_groups if doc.layout == "sharded" else self.manifest_groups
        shared_commit = len(vals) > 1
        grouped: dict[int, list[str]] = {}
        for v in vals:
            grouped.setdefault(self._group_of(v, ng), []).append(v)
        groups_map: dict[str, str] = {}
        for gid, gvals in sorted(grouped.items()):
            groups_map[str(gid)] = self._write_group(
                gid,
                {
                    "parts": {v: [dir_name] for v in gvals},
                    "shared": [dir_name] if shared_commit else [],
                },
                new_version,
            )
        return self._sharded_payload(
            new_version, ng, groups_map, props, removed, freed
        )

    # ---- maintenance ---------------------------------------------------------

    @staticmethod
    def recommended_manifest_groups(n_clients: int) -> int:
        """Group count ≈ √clients, rounded to a power of two and clamped
        to [16, 65536]. A one-tenant commit writes O(clients/groups)
        bytes (its group file) + O(groups) bytes (the manifest list);
        the sum is minimized at groups = √clients, which also makes
        bytes-per-commit ≈ bytes-per-tenant-resolve. Anchors: 1k → 32,
        100k → 256, 1M → 1024."""
        import math

        if n_clients < 1:
            return 16
        g = 2 ** round(math.log2(max(1.0, math.sqrt(n_clients))))
        return int(max(16, min(65536, g)))

    def reshard(self, new_groups: int) -> Manifest:
        """Re-shard the manifest under a new group count (r12 verdict
        ask #5) — the maintenance path for a table created small (e.g.
        256 groups) that grew 100×. ONE conditional-put commit, zero
        data movement: every partition's dir list, stale entries, and
        shared markers are regrouped under the new modulus and written
        as fresh group files; the old group files ride this version's
        ``freed_groups`` ledger and are reclaimed when the retention
        horizon reaches it. Readers are untouched mid-flight — every
        version resolves under the ``n_groups`` it recorded
        (``_VersionDoc.n_groups``), so time travel across the reshard
        keeps working and a concurrent ingest's rebased commit adopts
        the new count from the head doc. Also migrates a single-blob
        table (all carried dirs conservatively shared, as in the
        ordinary layout migration). O(clients) metadata — a scheduled
        maintenance call, never the commit path."""
        if new_groups < 1:
            raise ValueError("new_groups must be >= 1")
        with self._write_lock():
            doc = self.current_doc()
            new_version = doc.version + 1
            groups_map = {
                str(gid): self._write_group(gid, content, new_version)
                for gid, content in sorted(
                    self._regroup(doc, new_groups).items()
                )
            }
            # the old group files ride this version's freed ledger (a
            # single-blob predecessor has none)
            freed = [[int(g), sha] for g, sha in sorted(doc.groups.items())]
            payload = self._sharded_payload(
                new_version, new_groups, groups_map, dict(doc.props), [], freed
            )
            self._commit_version(new_version, payload)
            # keep the handle consistent for paths that still consult
            # the constructor value (fresh migrations, replace-all)
            self.manifest_groups = new_groups
        return _DocManifest(self.current_doc())

    def vacuum(self, orphan_grace_seconds: float = 3600.0) -> dict[str, int]:
        """Full-sweep reclamation of everything the per-commit GC
        intentionally leaves behind: SHARED data dirs (multi-partition
        commits — the ledger can't prove them dead without a global
        reference check, which is exactly what this is), dirs displaced
        across a layout migration, staging litter from crashed writers,
        and orphaned group files. O(table entries) — a scheduled
        maintenance call (Iceberg's remove_orphan_files split), never
        the commit path. Takes the writer lock so an in-flight COMMIT
        can't interleave; data STAGING happens outside the lock, so
        in-flight staged dirs are recognized by their intent markers
        and skipped until the intent is older than
        ``orphan_grace_seconds`` (Iceberg's remove_orphan_files
        ``older_than`` split) — a crashed writer's leak is reclaimed, a
        live slow writer is not. A writer whose stage outlives the
        grace AND races a vacuum fails its commit loudly (the staged
        dir is re-checked under the lock) rather than publishing a
        dangling reference.

        Clock assumption (tested by
        ``test_skewed_vacuum_clock_degrades_to_loud_conflict``): the
        grace compares THIS host's ``time.time()`` against the store's
        LastModified, so it only shields live writers while the
        sweeping host's clock is within ``orphan_grace_seconds`` of the
        store clock. A sweeper running further ahead defeats the shield
        — the failure mode is then the writer's loud
        ``SnapshotConflictError`` re-stage at commit (never a dangling
        reference), and the ingest service retries it. Keep maintenance
        hosts NTP-synced; the default 1h grace tolerates any sane skew.

        Id-sequence retention note (r13 review): in steady state the
        next verified reservation winner sweeps dead ``_IDSEQ`` slots,
        so a table that KEEPS being written needs no vacuum for them —
        but a table that stops being written retains at most two slot
        files plus any crashed-reserver ``.put.*`` litter until this
        call runs. Bounded (a few hundred bytes), but vacuum is the
        only reclaimer once writers stop."""
        with self._write_lock():
            # a crash between commit point and pointer publish can leave
            # a committed version ABOVE the pointer (see recover()) —
            # its artifacts are live, so the horizon and the live set
            # count from the true max committed version, not the pointer
            horizon = (
                max(self.current_doc().version, self._max_committed_version())
                - self.keep_versions
            )
            stats = {"dirs": 0, "groups": 0, "manifests": 0, "litter": 0}
            now = time.time()
            # dir listing FIRST, intent listing second: staging puts the
            # intent before the dir, so a stage landing between the two
            # listings is either intent-shielded or absent from the dir
            # snapshot, never a sweepable half-written dir
            listing = self.committer.list_prefix(self.root, "")
            fresh_intents: set[str] = set()  # dir names under live stage
            for name in self.committer.list_prefix(
                self.root, _STAGING_PREFIX
            ):
                full = os.path.join(self.root, name)
                try:
                    age = now - os.stat(full).st_mtime
                except OSError:
                    continue
                if age < orphan_grace_seconds:
                    fresh_intents.add(name[len(_STAGING_PREFIX) :])
                else:
                    # crashed writer: reclaim the marker; its dir (if it
                    # ever appeared) falls to the sweep below
                    with contextlib.suppress(OSError):
                        os.unlink(full)
                    stats["litter"] += 1
            # the live set spans up to the true committed head derived
            # AFTER both listings: a lock-bypassing racer's version
            # committed by now is in it, and one committed later still
            # had its intent alive at the intent listing above
            live_dirs, live_groups, live_manifests = self._live_refs(
                range(max(1, horizon), self._max_committed_version() + 1)
            )
            keep_files = {_MANIFEST, _MANIFEST + ".lock"} | live_manifests
            seq_head = self._seq_head()[0]

            def _aged_out(path: str) -> bool:
                # age gate for control-file litter, same rationale as
                # the _STAGING grace: reserve_id_block runs OUTSIDE the
                # write lock and a cross-host lock-bypassing committer
                # may be mid-conditional-put right now — their
                # _link_commit staging tmps look identical to a crashed
                # writer's leak. Only mtime distinguishes them; a live
                # writer's tmp is seconds old, a leak outlives the
                # grace. (_link_commit additionally retries a swept
                # stage, so even a mis-gated sweep is non-fatal.)
                try:
                    return now - os.stat(path).st_mtime >= orphan_grace_seconds
                except OSError:
                    return False  # already gone — a racer cleaned it

            for name in listing:
                full = os.path.join(self.root, name)
                if os.path.isdir(full):
                    if name not in live_dirs and name not in fresh_intents:
                        shutil.rmtree(full, ignore_errors=True)
                        stats["dirs"] += 1
                elif name.startswith(_IDSEQ + ".v"):
                    # keep the top two sequence files (the _seq_head
                    # LIST→GET race needs head-1 to survive); older ones
                    # are leaks from crashed reservers — slot numbers
                    # below head-1 are provably dead (the winner-sweep
                    # invariant), no age gate needed. A non-digit suffix
                    # is _link_commit staging litter
                    # (_IDSEQ.v7.put.<uuid>): a crashed reserver's leak
                    # OR a LIVE reserver mid-stage (reservation runs
                    # outside the write lock) — age-gated (r13 ADVICE).
                    s = name[len(_IDSEQ) + 2 :]
                    if (s.isdigit() and int(s) < seq_head - 1) or (
                        not s.isdigit() and _aged_out(full)
                    ):
                        with contextlib.suppress(OSError):
                            os.unlink(full)
                        stats["litter"] += 1
                elif name.startswith(_GROUP_PREFIX):
                    if name not in live_groups:
                        with contextlib.suppress(FileNotFoundError):
                            os.unlink(full)
                        stats["groups"] += 1
                elif name.startswith(_MANIFEST) and name not in keep_files:
                    suffix = name[len(_MANIFEST) :]
                    if suffix.startswith(".v") and suffix[2:].isdigit():
                        # only strictly below the horizon: a version
                        # ABOVE the pointer (a crash between commit
                        # point and pointer publish, pre-recover())
                        # is a committed snapshot, not garbage
                        if int(suffix[2:]) < max(1, horizon):
                            with contextlib.suppress(FileNotFoundError):
                                os.unlink(full)
                            stats["manifests"] += 1
                    elif _aged_out(full):
                        # .put./.tmp/.ptr staging leftovers — age-gated:
                        # a cross-host lock-bypassing committer (the
                        # exact racer the rebase loop supports) may be
                        # mid-put on one of these right now (r13 ADVICE)
                        with contextlib.suppress(FileNotFoundError):
                            os.unlink(full)
                        stats["litter"] += 1
            return stats

    def recover(self) -> int:
        """Re-point the advisory head pointer at the highest committed
        version. Repairs the one crash the commit protocol cannot heal
        in-band under the POSIX committer: a writer that died BETWEEN
        the commit point (versioned manifest created) and the pointer
        publication leaves the pointer at N-1 while version N exists —
        every subsequent publish then computes N and loses the
        conditional put forever. (The pointer-file committer derives
        the head by LIST and never wedges; running this on it is a
        harmless no-op refresh of the advisory cache.) Run after
        clearing the crashed writer's stale lock file."""
        with self._write_lock():
            best = self._max_committed_version()
            if best >= 1:
                self.committer.publish_pointer(
                    self._manifest_path(), self._manifest_path(best)
                )
            return max(best, 0)
