"""Auth/session layer (SURVEY §3.3) — driver-side glue, not a distributed op.

Replicates the behavioral surface of the reference's auth family
(B/web/api/auth.py): signup (dup-email check, two-table insert), login
(verify password, rotate session token, touch last_login), logout (clear
token), and current-user resolution from a session token — all over the
``users``/``clients`` snapshot tables. Password hashing uses pbkdf2-sha256
from the stdlib (bcrypt isn't in this image; the reference uses bcrypt —
same contract: salted, one-way, verify-only).

These are point lookups and single-row updates; running them as Spark jobs
would be absurd at any scale, so rows are read through the table layer but
mutations rewrite only the (tiny) users/clients partitions. Tenant scoping
for the *data* path (P3) stays an engine concept — `current_client_id` is
what the query/ingest layers take as their ``client_id`` argument.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import secrets
import threading
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .schemas import CLIENTS_SCHEMA, USERS_SCHEMA
from .tables.snapshot import SnapshotConflictError, SnapshotTable

_PBKDF2_ITERS = 100_000


def hash_password(password: str) -> str:
    salt = secrets.token_hex(16)
    digest = hashlib.pbkdf2_hmac(
        "sha256", password.encode(), salt.encode(), _PBKDF2_ITERS
    ).hex()
    return f"pbkdf2_sha256${_PBKDF2_ITERS}${salt}${digest}"


def verify_password(password: str, stored: str) -> bool:
    try:
        algo, iters, salt, digest = stored.split("$")
    except ValueError:
        return False
    if algo != "pbkdf2_sha256":
        return False
    got = hashlib.pbkdf2_hmac(
        "sha256", password.encode(), salt.encode(), int(iters)
    ).hex()
    return secrets.compare_digest(got, digest)


def _now() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None, microsecond=0)


@dataclass
class AuthError(Exception):
    message: str


class AuthService:
    """users + clients tables keyed like the reference's models."""

    def __init__(self, users: SnapshotTable, clients: SnapshotTable):
        assert users.schema == USERS_SCHEMA
        assert clients.schema == CLIENTS_SCHEMA
        self.users = users
        self.clients = clients
        # current_user's memo: token -> user, valid only at _memo_versions
        # (the users and clients head versions it was computed at)
        self._memo_lock = threading.Lock()
        self._memo_versions: tuple[int, int] | None = None
        self._memo: dict[str, dict] = {}

    def _rmw(self, spark: SparkSession, table: SnapshotTable, build, attempts: int = 5):
        """Optimistic read-modify-write: every auth mutation derives its new
        table state from a snapshot read, so a publish that lands in between
        would silently lose the racer's update (two signups minting the same
        id, a login overwriting a concurrent signup's row). ``build(df,
        head)`` recomputes the new state from a FRESH read each attempt
        (``head`` is the head version doc; builders read only its
        ``props``); ``expected_version`` makes the publish conditional on
        nothing having changed, and a conflict loops back to re-read."""
        last: SnapshotConflictError | None = None
        for _ in range(attempts):
            head = table.current_doc()
            new_df = build(table.read(spark), head)
            try:
                return table.overwrite_all(
                    new_df, expected_version=head.version
                )
            except SnapshotConflictError as e:
                last = e
        raise last

    # -- signup (B/web/api/auth.py:97-129) ---------------------------------
    def signup(
        self,
        spark: SparkSession,
        company_name: str,
        email: str,
        full_name: str,
        password: str,
        address: str | None = None,
    ) -> dict:
        # fast-fail outside the write path; the race-safe check re-runs
        # inside the guarded users mutation below
        if (
            self.users.read(spark)
            .filter(F.col("email") == email)
            .limit(1)
            .count()
        ):
            raise AuthError("Email already registered")
        now = _now()
        minted: dict[str, int] = {}

        def build_client(clients, head):
            minted["cid"] = int(head.props.get("max_id", 0)) + 1
            row = spark.createDataFrame(
                [(minted["cid"], company_name, now, address, True)],
                schema=CLIENTS_SCHEMA,
            )
            return clients.unionByName(row)

        def build_user(users, head):
            if users.filter(F.col("email") == email).limit(1).count():
                raise AuthError("Email already registered")
            minted["uid"] = int(head.props.get("max_id", 0)) + 1
            row = spark.createDataFrame(
                [
                    (
                        minted["uid"],
                        minted["cid"],
                        email,
                        full_name,
                        now,
                        hash_password(password),
                        True,
                        None,
                        None,
                    )
                ],
                schema=USERS_SCHEMA,
            )
            return users.unionByName(row)

        # two single-table guarded mutations, clients first (the user row
        # references cid). NOT atomic across the pair — the reference gets
        # that from its database transaction; here a same-email race or a
        # crash between the writes can leave an orphan client row, which
        # no user references and which the next successful signup ignores.
        # Duplicate id minting, the data-corrupting race, IS prevented:
        # each id is minted from the manifest the conditional publish
        # checks against.
        self._rmw(spark, self.clients, build_client)
        self._rmw(spark, self.users, build_user)
        return {"user_id": minted["uid"], "client_id": minted["cid"]}

    # -- login (B/web/api/auth.py:33-69) -----------------------------------
    def login(self, spark: SparkSession, email: str, password: str) -> str:
        users = self.users.read(spark)
        row = (
            users.filter((F.col("email") == email) & F.col("active"))
            .limit(1)
            .collect()
        )
        if not row or not verify_password(password, row[0]["password_hash"]):
            raise AuthError("Invalid credentials")
        token = secrets.token_urlsafe(32)

        def build(current, head):
            return current.withColumn(
                "session_token",
                F.when(F.col("email") == email, F.lit(token)).otherwise(
                    F.col("session_token")
                ),
            ).withColumn(
                "last_login",
                F.when(
                    F.col("email") == email,
                    F.lit(_now()).cast("timestamp_ntz"),
                ).otherwise(F.col("last_login")),
            )

        self._rmw(spark, self.users, build)
        return token

    # -- logout (B/web/api/auth.py:77-94) ----------------------------------
    def logout(self, spark: SparkSession, token: str) -> None:
        def build(current, head):
            return current.withColumn(
                "session_token",
                F.when(
                    F.col("session_token") == token, F.lit(None)
                ).otherwise(F.col("session_token")),
            )

        self._rmw(spark, self.users, build)

    # -- current user from token (B/web/dependencies.py:15-47) -------------
    def current_user(self, spark: SparkSession, token: str) -> dict:
        """Resolve ``token`` to its user, memoized per head version.

        Every request resolves its token, and a resolution is two Spark
        collects. The answer depends only on the ``users`` and ``clients``
        snapshots, so it is memoized under their head versions (one small
        manifest read each) and the two reads are pinned to exactly those
        versions. Any write to either table — login, logout, signup, a
        tenant deactivation, from this process or another — moves a
        version and drops the whole memo, so it holds only the tokens
        seen since the last auth write. Failures are never memoized."""
        if not token:
            raise AuthError("Not authenticated")
        versions = (
            self.users.current_doc().version,
            self.clients.current_doc().version,
        )
        with self._memo_lock:
            if self._memo_versions != versions:
                self._memo_versions, self._memo = versions, {}
            hit = self._memo.get(token)
        if hit is None:
            hit = self._resolve(spark, token, *versions)
            with self._memo_lock:
                if self._memo_versions == versions:
                    self._memo[token] = hit
        return dict(hit)

    def _resolve(
        self, spark: SparkSession, token: str, users_v: int, clients_v: int
    ) -> dict:
        row = (
            self.users.read(spark, version=users_v)
            .filter((F.col("session_token") == token) & F.col("active"))
            .limit(1)
            .collect()
        )
        if not row:
            raise AuthError("Not authenticated")
        u = row[0].asDict()
        client = (
            self.clients.read(spark, version=clients_v)
            .filter((F.col("id") == u["client_id"]) & F.col("active"))
            .limit(1)
            .collect()
        )
        if not client:
            raise AuthError("Client inactive")
        return {
            "user_id": u["id"],
            "email": u["email"],
            "full_name": u["full_name"],
            "client_id": u["client_id"],
            "company_name": client[0]["company_name"],
        }
