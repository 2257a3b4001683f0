"""Storage-commit seam: how control files and staged directories become
visible, factored out of the two publish sites that used to hardcode
POSIX atomic rename.

Why this exists (the 100 TB argument): `SnapshotTable._publish` and
`compaction.compact_batch_shards` both publish by *atomic rename* +
fsync. That protocol is correct on a POSIX filesystem — and impossible
on the object stores where a 100 TB table actually lives: S3/GCS have
neither atomic file rename nor directory rename at all. What they DO
have is a different, equally workable primitive set:

- **atomic whole-object PUT** — readers see the old object or the new
  one, never a torn write;
- **conditional PUT** (S3 ``If-None-Match: *`` / GCS
  ``x-goog-if-generation-match: 0``) — create-if-absent, the exact
  semantics POSIX ``O_CREAT|O_EXCL`` gives locally;
- **LIST / GET / DELETE / server-side COPY**.

So the seam is two implementations of one small interface:

- ``PosixCommitter`` — the existing protocol verbatim: O_EXCL version
  files, fsync-before-replace pointer swap, directory rename for the
  staged-fold install. Default; byte-compatible with every table this
  package has already written.
- ``PointerFileCommitter`` — uses ONLY the object-store primitive set
  (emulated on the local filesystem, each emulation mapping 1:1 onto a
  real store call, noted per method). No rename of anything a reader
  resolves: the *current* manifest is derived by LISTing the O_EXCL/
  conditional-put version files and taking the max — the pointer file
  disappears as a commit primitive and becomes a derived value, which
  is exactly how Iceberg's catalog-less table spec resolves heads.
  Directory "install" is DELETE + per-object COPY with the ``_SUCCESS``
  marker copied LAST, so a half-installed directory is distinguishable
  from a complete one and the manifest-driven recovery replays it
  idempotently.

The crash-safety contract both implementations satisfy (pinned by the
parametrized crash-injection tests in tests/test_compaction.py and
tests/test_snapshot_committer.py):

1. ``put_if_absent`` is the COMMIT POINT — at most one writer wins a
   given version; losers observe the collision and retry on a fresh
   read (SnapshotConflictError upstream).
2. ``publish_pointer`` after the commit point is advisory: a crash
   between the two leaves a committed version that ``read_current``
   still resolves (POSIX: the previous pointer — the version is
   re-pointed by the next publish; pointer-file: LIST already sees it).
3. ``install_dir`` may be replayed any number of times after a crash —
   it is idempotent given the staged dir still carries ``_SUCCESS``.

What the protocol REQUIRES from the store (the assumptions a real
S3/GCS backend must satisfy — pinned by the store-fault adversary in
tests/test_snapshot_committer.py):

- **Read-after-write consistency for LIST and GET** (S3 provides this
  since Dec 2020; GCS always has). Two places depend on it hard:
  ``read_current`` derives the head from LIST, and
  ``reserve_id_block``'s verify-LIST must see every slot already PUT —
  a LIST that misses a just-PUT higher slot would let a zombie
  reservation hand out a duplicate block. On an eventually-consistent
  store this committer is NOT safe for id reservation — and that is now
  ASSERTED, not advised: every implementation declares
  ``consistent_list``, and ``reserve_id_block`` refuses to run on a
  committer that does not claim the guarantee (adversary-pinned in
  tests/test_committer_conformance.py).
- **Conditional PUT is atomic and exactly-once decided** — but its
  RESPONSE may be lost (5xx/timeout after a success). Callers absorb
  that: ``_commit_version`` re-GETs on collision and byte-compares to
  detect its own lost-response win; ``reserve_id_block`` treats an
  "already exists" for its own slot as a burned block (a gap, never a
  duplicate). A retrying SDK under this committer must surface the
  collision, not invent idempotency.
- **Partial failure of multi-object operations is the caller's
  problem**: ``install_dir`` (DELETE + per-object COPY) may die after
  any k objects; the ``_SUCCESS``-last ordering keeps a half-installed
  target distinguishable, and BOTH crash-replay and caller-level retry
  re-run it idempotently. No cross-object atomicity is assumed.
- **DELETE and GET of a missing key are benign** (404 == no-op /
  None), matching store semantics; nothing interprets them as errors.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid


def _fs_list_prefix(directory: str, prefix: str) -> "list[str]":
    """Shared local-filesystem LIST-with-prefix (both shipped committers
    model local-FS stores; one body so a fix can't drift between them).
    A missing directory lists as empty — the store semantics of LISTing
    a prefix with no keys, never an error."""
    try:
        return [n for n in os.listdir(directory) if n.startswith(prefix)]
    except FileNotFoundError:
        return []


def _stage_payload(tmp: str, payload: bytes, durable: bool) -> None:
    with open(tmp, "wb") as f:
        f.write(payload)
        if durable:
            f.flush()
            os.fsync(f.fileno())


def _link_commit(path: str, payload: bytes, durable: bool) -> bool:
    """Create ``path`` with ``payload`` if absent — atomically WITH the
    payload. A real conditional PUT is atomic whole-object: readers see
    the committed object complete or not at all. A bare O_CREAT|O_EXCL
    open-then-write exposes an empty/partial version file to LIST+GET
    readers (``read_current`` would parse a torn manifest), so the
    payload lands under a unique staging name first and ``os.link`` into
    the final name is the create-if-absent commit point (EEXIST = a
    racing writer won). A crash mid-stage leaves only ``.put.*`` litter
    that head resolution already ignores (non-numeric version suffix).

    A racing litter sweep (``vacuum``) that unlinks the staging tmp
    between the stage and the link makes ``os.link`` raise
    ``FileNotFoundError`` — that is a lost STAGE, not a lost commit
    (nothing was published), so the payload is restaged under a fresh
    name and the link retried. vacuum age-gates ``.put.*`` deletion by
    ``orphan_grace_seconds`` precisely so a live staging can only hit
    this window against a misconfigured (grace≈0) sweep; the retry
    makes even that sweep merely slow, not fatal (r13 ADVICE)."""
    for _ in range(5):
        tmp = f"{path}.put.{uuid.uuid4().hex}"
        try:
            _stage_payload(tmp, payload, durable)
            try:
                os.link(tmp, path)
                return True
            except FileExistsError:
                return False
            except FileNotFoundError:
                continue
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
    raise OSError(
        f"conditional-put staging for {path} was swept 5 times in a row; "
        "is a vacuum running with orphan_grace_seconds≈0 in a loop?"
    )


class Committer:
    """Interface. All paths are plain strings under a table/shard root."""

    name = "abstract"

    # Does this store's LIST see every object already PUT (read-after-
    # write consistency)? The id-block reservation protocol is UNSAFE
    # without it (the zombie-reservation verify LIST — see the module
    # docstring's store requirements), so ``reserve_id_block`` REFUSES
    # to run on a committer that does not declare it. False here is the
    # safe default: a new store adapter must opt in after confirming
    # the store's guarantee (S3 has it since Dec 2020, GCS always,
    # POSIX readdir trivially), not inherit safety by accident.
    consistent_list = False

    # -- small control blobs ------------------------------------------------
    def put_if_absent(self, path: str, payload: bytes) -> bool:
        """Create-if-absent (the commit point). False = already exists."""
        raise NotImplementedError

    def list_prefix(self, directory: str, prefix: str) -> list[str]:
        """Names in ``directory`` starting with ``prefix`` (a store LIST
        with a key prefix). Head resolution and the id-sequence verify
        both ride on this — implementations declare via
        ``consistent_list`` whether it is read-after-write consistent."""
        raise NotImplementedError

    def put_atomic(self, path: str, payload: bytes) -> None:
        """Publish a small control blob with all-or-nothing visibility."""
        raise NotImplementedError

    def get(self, path: str) -> bytes | None:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    # -- current-manifest resolution -----------------------------------------
    def publish_pointer(self, pointer_path: str, versioned_path: str) -> None:
        """Make ``pointer_path`` resolve to the committed version."""
        raise NotImplementedError

    def read_current(self, pointer_path: str, version_prefix: str) -> bytes | None:
        """Resolve the current manifest payload (None = no table yet).

        ``version_prefix`` is the versioned-manifest path prefix (the
        part before ``.v<N>``) for implementations that derive the head
        by listing instead of trusting a pointer file."""
        raise NotImplementedError

    # -- staged directories ---------------------------------------------------
    def install_dir(self, staged: str, target: str) -> None:
        """Make the staged directory's contents the target directory.

        Idempotent while ``staged/_SUCCESS`` exists; after a successful
        install + ``cleanup_staged`` the staged dir is gone."""
        raise NotImplementedError

    def cleanup_staged(self, staged: str) -> None:
        """Remove a staged dir, deleting ``_SUCCESS`` FIRST so recovery
        can tell a finalized install (no _SUCCESS) from an interrupted
        one (staged still complete)."""
        succ = os.path.join(staged, "_SUCCESS")
        if os.path.exists(succ):
            os.remove(succ)
        shutil.rmtree(staged, ignore_errors=True)

    def delete_dir(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class PosixCommitter(Committer):
    """The original protocol: O_EXCL version files, fsync-before-replace
    pointer swap, directory rename installs. Correct on any POSIX
    filesystem; the default everywhere."""

    name = "posix"
    consistent_list = True  # readdir sees every completed create/link

    def list_prefix(self, directory: str, prefix: str) -> list[str]:
        return _fs_list_prefix(directory, prefix)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        if not _link_commit(path, payload, durable=True):
            return False
        self._fsync_dir(os.path.dirname(path))
        return True

    def put_atomic(self, path: str, payload: bytes) -> None:
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        self._fsync_dir(os.path.dirname(path))

    @staticmethod
    def _fsync_dir(d: str) -> None:
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def get(self, path: str) -> bytes | None:
        # open-and-catch, not exists-then-open: a concurrent DELETE (e.g.
        # the id-sequence GC) between the check and the read must read as
        # "absent" — exactly a store GET returning 404 — not raise
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def delete(self, path: str) -> None:
        # idempotent, like a store DELETE: a racing deleter is a no-op
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)

    def publish_pointer(self, pointer_path: str, versioned_path: str) -> None:
        # copy + fsync BEFORE the rename installs it: power loss must not
        # journal the rename without the data blocks (a truncated pointer
        # no reader can parse)
        tmp = versioned_path + ".ptr"
        with open(versioned_path, "rb") as src, open(tmp, "wb") as dst:
            dst.write(src.read())
            dst.flush()
            os.fsync(dst.fileno())
        os.replace(tmp, pointer_path)
        self._fsync_dir(os.path.dirname(pointer_path))

    def read_current(self, pointer_path: str, version_prefix: str) -> bytes | None:
        return self.get(pointer_path)

    def install_dir(self, staged: str, target: str) -> None:
        # the target's old incarnation gates the atomic rename: a real
        # deletion failure must raise inside the manifest-protected
        # window (the next recover replays), not surface as ENOTEMPTY
        if os.path.exists(target):
            shutil.rmtree(target)
        os.rename(staged, target)


class PointerFileCommitter(Committer):
    """Object-store-shaped protocol using only PUT / conditional-PUT /
    GET / LIST / DELETE / COPY, each emulated on the local filesystem.

    Emulation map (what each method is on a real store):

    - ``put_if_absent`` → conditional PUT (``If-None-Match: *``). The
      local O_EXCL create has the same at-most-one-winner semantics.
    - ``put_atomic`` → plain PUT (atomic per object on S3/GCS; locally
      emulated with write-tmp + replace purely to reproduce the
      atomicity the real store provides natively).
    - ``read_current`` → LIST the ``<prefix>.v*`` version objects, GET
      the max. No pointer object participates in commit at all — the
      head is a derived value, so there is nothing to swap atomically
      and nothing a stale writer can clobber.
    - ``install_dir`` → DELETE target keys, server-side COPY staged
      keys, ``_SUCCESS`` last. Replay-idempotent.
    """

    name = "pointer"
    # modeling S3 (strong read-after-write since Dec 2020) / GCS
    # (always); an adapter for an eventually-consistent store must
    # flip this to False, which makes reserve_id_block refuse loudly
    consistent_list = True

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        return _link_commit(path, payload, durable=False)

    def list_prefix(self, directory: str, prefix: str) -> list[str]:
        # LIST with a key prefix
        return _fs_list_prefix(directory, prefix)

    def put_atomic(self, path: str, payload: bytes) -> None:
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)

    def get(self, path: str) -> bytes | None:
        # GET-after-DELETE is a 404 on a real store, never an error
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def delete(self, path: str) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)

    def publish_pointer(self, pointer_path: str, versioned_path: str) -> None:
        # advisory cache only — read_current never trusts it; a crash
        # here (or a stale writer overwriting it late) costs nothing
        payload = self.get(versioned_path)
        if payload is not None:
            self.put_atomic(pointer_path, payload)

    def read_current(self, pointer_path: str, version_prefix: str) -> bytes | None:
        d, base = os.path.split(version_prefix)
        best = -1
        if os.path.isdir(d):
            for name in os.listdir(d):  # LIST
                if name.startswith(base + ".v"):
                    suffix = name[len(base) + 2 :]
                    if suffix.isdigit():
                        best = max(best, int(suffix))
        if best < 0:
            return None
        return self.get(f"{version_prefix}.v{best}")

    def install_dir(self, staged: str, target: str) -> None:
        if not os.path.exists(os.path.join(staged, "_SUCCESS")):
            raise RuntimeError(
                f"refusing to install incomplete staged dir {staged}"
            )
        self.delete_dir(target)  # DELETE old keys (idempotent on replay)
        os.makedirs(target, exist_ok=True)
        # server-side COPY per object under the staged prefix (object
        # stores have no directories — "nested dirs" are just key
        # prefixes, so a partitioned staged layout copies the same way)
        succ_rel = "_SUCCESS"
        for dirpath, _, filenames in os.walk(staged):
            rel = os.path.relpath(dirpath, staged)
            for n in filenames:
                key = n if rel == "." else os.path.join(rel, n)
                if key == succ_rel:
                    continue
                dst = os.path.join(target, key)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(os.path.join(dirpath, n), dst)
        # _SUCCESS last: a reader (or recovery) seeing it knows every
        # data object landed before it
        shutil.copyfile(
            os.path.join(staged, succ_rel), os.path.join(target, succ_rel)
        )

