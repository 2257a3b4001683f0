"""HTTP facade fidelity suite — the reference's TestClient scenarios
(B/tests/web/api/test_auth.py + test_products.py) driven over the WSGI app
with a minimal in-process client (no server socket; WSGI environ calls,
exactly what fastapi.testclient does under the hood)."""

import csv
import io
import json
import uuid

import pytest

from client_data_ingester_spark.schemas import (
    CLIENT_PRODUCTS_SCHEMA,
    CLIENTS_SCHEMA,
    USERS_SCHEMA,
)
from client_data_ingester_spark.tables import SnapshotTable
from client_data_ingester_spark.web import SparkIngesterApp


class MiniClient:
    """requests-ish wrapper over direct WSGI calls, with a cookie jar."""

    def __init__(self, app):
        self.app = app
        self.cookies = {}

    def _call(self, method, path, query="", body=b"", content_type=None):
        environ = {
            "REQUEST_METHOD": method,
            "PATH_INFO": path,
            "QUERY_STRING": query,
            "CONTENT_LENGTH": str(len(body)),
            "wsgi.input": io.BytesIO(body),
        }
        if content_type:
            environ["CONTENT_TYPE"] = content_type
        if self.cookies:
            environ["HTTP_COOKIE"] = "; ".join(
                f"{k}={v}" for k, v in self.cookies.items()
            )
        captured = {}

        def start_response(status, headers):
            captured["status"] = int(status.split()[0])
            captured["headers"] = headers

        chunks = self.app(environ, start_response)
        payload = json.loads(b"".join(chunks).decode())
        for name, value in captured["headers"]:
            if name.lower() == "set-cookie":
                k, v = value.split(";")[0].split("=", 1)
                if v:
                    self.cookies[k] = v
                else:
                    self.cookies.pop(k, None)
        return captured["status"], payload

    def post_form(self, path, data):
        from urllib.parse import urlencode

        return self._call(
            "POST",
            path,
            body=urlencode(data).encode(),
            content_type="application/x-www-form-urlencoded",
        )

    def post_multipart(self, path, fields):
        boundary = f"b{uuid.uuid4().hex}"
        parts = []
        for name, value in fields.items():
            if isinstance(value, bytes):
                head = (
                    f'Content-Disposition: form-data; name="{name}"; '
                    f'filename="upload.bin"\r\n'
                    "Content-Type: application/octet-stream\r\n\r\n"
                ).encode()
                parts.append(head + value)
            else:
                head = (
                    f'Content-Disposition: form-data; name="{name}"\r\n\r\n'
                ).encode()
                parts.append(head + str(value).encode())
        body = b"".join(
            b"--" + boundary.encode() + b"\r\n" + p + b"\r\n" for p in parts
        ) + b"--" + boundary.encode() + b"--\r\n"
        return self._call(
            "POST",
            path,
            body=body,
            content_type=f"multipart/form-data; boundary={boundary}",
        )

    def get(self, path, **params):
        from urllib.parse import urlencode

        return self._call("GET", path, query=urlencode(params))


SIGNUP_1 = {
    "full_name": "Test User 1",
    "email": "testuser1@example.com",
    "password": "testpass123",
    "company_name": "TestCo1",
    "company_address": "123 Test St",
}
SIGNUP_2 = {
    "full_name": "Test User 2",
    "email": "testuser2@example.com",
    "password": "testpass456",
    "company_name": "TestCo2",
    "company_address": "456 Test Ave",
}
PARSER_CONFIG = {
    "parser_id": "csv",
    "column_mapping": {
        "sku": ["sku", "text"],
        "title": ["title", "text"],
        "active": ["active", "boolean"],
    },
}


def make_csv(rows):
    buf = io.StringIO()
    w = csv.DictWriter(buf, fieldnames=["sku", "title", "active"])
    w.writeheader()
    for r in rows:
        w.writerow(r)
    return buf.getvalue().encode()


@pytest.fixture()
def app(spark, tmp_path):
    return SparkIngesterApp(
        spark,
        SnapshotTable(str(tmp_path / "products"), CLIENT_PRODUCTS_SCHEMA),
        SnapshotTable(str(tmp_path / "users"), USERS_SCHEMA, partition_col="id"),
        SnapshotTable(
            str(tmp_path / "clients"), CLIENTS_SCHEMA, partition_col="id"
        ),
    )


def signed_in_client(app, signup):
    c = MiniClient(app)
    status, _ = c.post_form("/auth/signup", signup)
    assert status == 200
    status, _ = c.post_form(
        "/auth/login",
        {"username": signup["email"], "password": signup["password"]},
    )
    assert status == 200
    return c


def ingest(client, rows, full_update=False):
    fields = {
        "parser_config": json.dumps(PARSER_CONFIG),
        "data_file": make_csv(rows),
    }
    if full_update:
        fields["full_update"] = "true"
    return client.post_multipart("/products/ingest", fields)


# -- auth (test_auth.py scenarios) ------------------------------------------


def test_signup_success(app):
    status, data = MiniClient(app).post_form("/auth/signup", SIGNUP_1)
    assert status == 200
    assert data["email"] == SIGNUP_1["email"]
    assert data["full_name"] == SIGNUP_1["full_name"]
    assert data["company_name"] == SIGNUP_1["company_name"]


def test_signup_duplicate_email(app):
    c = MiniClient(app)
    assert c.post_form("/auth/signup", SIGNUP_1)[0] == 200
    status, data = c.post_form("/auth/signup", SIGNUP_1)
    assert status == 400
    assert "Email already registered" in data["detail"]


def test_signup_validation_422(app):
    status, _ = MiniClient(app).post_form(
        "/auth/signup", SIGNUP_1 | {"password": "short"}
    )
    assert status == 422


def test_login_success_sets_cookie(app):
    c = MiniClient(app)
    c.post_form("/auth/signup", SIGNUP_1)
    status, data = c.post_form(
        "/auth/login",
        {"username": SIGNUP_1["email"], "password": SIGNUP_1["password"]},
    )
    assert status == 200
    assert data["email"] == SIGNUP_1["email"]
    assert data["full_name"] == SIGNUP_1["full_name"]
    assert "session_token" in c.cookies


def test_login_wrong_password_401(app):
    c = MiniClient(app)
    c.post_form("/auth/signup", SIGNUP_1)
    status, data = c.post_form(
        "/auth/login",
        {"username": SIGNUP_1["email"], "password": "wrongPassword"},
    )
    assert status == 401
    assert "Invalid email or password" in data["detail"]


def test_logout(app):
    c = signed_in_client(app, SIGNUP_1)
    status, data = c.post_form("/auth/logout", {})
    assert status == 200
    assert "Successfully logged out" in data["message"]
    # cookie cleared and token invalidated server-side
    assert "session_token" not in c.cookies


# -- products/list (test_products.py scenarios) ------------------------------


def test_list_requires_auth(app):
    status, data = MiniClient(app).get("/products/list")
    assert status == 401
    assert data["detail"] == "Not authenticated"


def test_list_no_products(app):
    c = signed_in_client(app, SIGNUP_1)
    status, data = c.get("/products/list")
    assert status == 200
    assert data == []


def test_list_few_products_tenant_isolated(app):
    c1 = signed_in_client(app, SIGNUP_1)
    c2 = signed_in_client(app, SIGNUP_2)
    assert ingest(c1, [
        {"sku": "SKU1", "title": "Product 1", "active": "1"},
        {"sku": "SKU2", "title": "Product 2", "active": "1"},
    ])[0] == 200
    assert ingest(c2, [
        {"sku": "SKU3", "title": "Other User Product", "active": "1"},
    ])[0] == 200
    status, data = c1.get("/products/list")
    assert status == 200
    skus = {p["sku"] for p in data}
    assert skus == {"SKU1", "SKU2"}


def test_list_pagination(app):
    c1 = signed_in_client(app, SIGNUP_1)
    c2 = signed_in_client(app, SIGNUP_2)
    ingest(c1, [
        {"sku": f"SKU{i}", "title": f"Product {i}", "active": "1"}
        for i in range(7)
    ])
    ingest(c2, [
        {"sku": f"U2SKU{i}", "title": f"U2 Product {i}", "active": "1"}
        for i in range(2)
    ])
    status, data = c1.get("/products/list")
    assert status == 200 and len(data) == 5  # default limit 5
    status, data = c1.get("/products/list", s=5, l=10)
    assert status == 200
    assert [p["sku"] for p in data] == ["SKU5", "SKU6"]
    _, data2 = c2.get("/products/list")
    assert all(p["sku"].startswith("U2SKU") for p in data2)


def test_list_limit_bounds_422(app):
    c = signed_in_client(app, SIGNUP_1)
    assert c.get("/products/list", l=0)[0] == 422
    assert c.get("/products/list", l=51)[0] == 422
    assert c.get("/products/list", s=-1)[0] == 422


# -- products/ingest (test_products.py scenarios) ----------------------------


def test_ingest_requires_auth(app):
    status, _ = MiniClient(app).post_multipart(
        "/products/ingest",
        {"parser_config": json.dumps(PARSER_CONFIG), "data_file": b"sku\n"},
    )
    assert status == 401


def test_ingest_small_file(app):
    c = signed_in_client(app, SIGNUP_1)
    status, data = ingest(c, [
        {"sku": f"SKU{i}", "title": f"Product {i}", "active": "1"}
        for i in range(3)
    ])
    assert status == 200
    assert data["success"] is True
    assert data["processed_items"] == 3
    _, listed = c.get("/products/list")
    assert len(listed) == 3


def test_ingest_response_exposes_stats_telemetry(app):
    """The README report contract: the HTTP response carries the report
    stats verbatim — processed_count always; the concurrency telemetry
    keys (merge_conflict_rounds / merge_stall_peak / group_commit_*)
    only when those paths ran, so a conflict-free ingest keeps the
    legacy stats shape (r15 verdict ask #9)."""
    c = signed_in_client(app, SIGNUP_1)
    status, data = ingest(c, [
        {"sku": f"SKU{i}", "title": f"P{i}", "active": "1"}
        for i in range(4)
    ])
    assert status == 200
    stats = data["stats"]
    assert stats["processed_count"] == 4
    # conflict-free single-writer ingest: no concurrency telemetry
    for absent in (
        "merge_conflict_rounds",
        "merge_stall_peak",
        "group_commit_batch",
        "group_commit_drainer",
    ):
        assert absent not in stats, stats
    # full update adds the reference-parity counters
    status, data = ingest(
        c,
        [{"sku": "SKU0", "title": "P0", "active": "1"}],
        full_update=True,
    )
    assert status == 200
    assert data["stats"]["deactivated_count"] == 3
    assert data["stats"]["total_ingested_skus"] == 1


def test_ingest_invalid_parser_config_400(app):
    c = signed_in_client(app, SIGNUP_1)
    status, data = c.post_multipart(
        "/products/ingest",
        {"parser_config": "{not json", "data_file": b"sku\n"},
    )
    assert status == 400
    assert "Invalid parser_config" in data["detail"]


def test_ingest_updates_active_status(app):
    """The xfail'd update-mode contract (test_products.py:187-214), passing."""
    c = signed_in_client(app, SIGNUP_1)
    rows = [
        {"sku": f"SKU{i}", "title": f"Product {i}", "active": "1"}
        for i in range(3)
    ]
    assert ingest(c, rows)[0] == 200
    inactive = [r | {"active": "0"} for r in rows]
    status, data = ingest(c, inactive)
    assert status == 200 and data["processed_items"] == 3
    _, listed = c.get("/products/list")
    assert len(listed) == 3
    assert all(p["active"] is False for p in listed)


def test_ingest_records_without_sku(app):
    c = signed_in_client(app, SIGNUP_1)
    status, data = ingest(c, [
        {"sku": "SKU1", "title": "Product 1", "active": "1"},
        {"sku": "", "title": "Product 2", "active": "1"},
        {"sku": "", "title": "Product 3", "active": "0"},
    ])
    assert status == 200
    assert data["success"] is True and data["processed_items"] == 3
    _, listed = c.get("/products/list")
    assert len(listed) == 3
    assert sum(1 for p in listed if p["sku"] == "") == 2


def test_full_update_deactivates_absent_products(app):
    c = signed_in_client(app, SIGNUP_1)
    ingest(c, [
        {"sku": "A", "title": "Product A", "active": "1"},
        {"sku": "B", "title": "Product B", "active": "1"},
    ])
    status, data = ingest(
        c, [{"sku": "A", "title": "Product A Updated", "active": "1"}],
        full_update=True,
    )
    assert status == 200 and data["success"] is True
    _, listed = c.get("/products/list")
    by_sku = {p["sku"]: p for p in listed}
    assert by_sku["A"]["active"] is True
    assert by_sku["A"]["title"] == "Product A Updated"
    assert by_sku["B"]["active"] is False


def test_default_mode_does_not_deactivate(app):
    c = signed_in_client(app, SIGNUP_1)
    ingest(c, [
        {"sku": "A", "title": "Product A", "active": "1"},
        {"sku": "B", "title": "Product B", "active": "1"},
    ])
    status, data = ingest(
        c, [{"sku": "A", "title": "Product A Updated", "active": "1"}]
    )
    assert status == 200 and data["success"] is True
    _, listed = c.get("/products/list")
    by_sku = {p["sku"]: p for p in listed}
    assert by_sku["A"]["active"] is True
    assert by_sku["A"]["title"] == "Product A Updated"
    assert by_sku["B"]["active"] is True


def test_auth_memo_dropped_by_every_auth_write(app, spark, tmp_path):
    """current_user memoizes token → user per users/clients head version.
    A memo hit runs no Spark job; a logout, a tenant deactivation and a
    users write through another handle on the same root (another process)
    each invalidate it, in this process, on the very next request."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext

    def jobs_resolving(token):
        group = f"auth-memo-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "auth memo probe")
        try:
            app.auth.current_user(spark, token)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def refused(token):
        c = MiniClient(app)
        c.cookies["session_token"] = token
        return c.get("/products/list")[0] == 401

    c1 = signed_in_client(app, SIGNUP_1)
    token1 = c1.cookies["session_token"]
    assert c1.get("/products/list")[0] == 200
    assert jobs_resolving(token1) == 0  # served from the memo
    assert c1.post_form("/auth/logout", {})[0] == 200
    assert refused(token1)

    c2 = signed_in_client(app, SIGNUP_2)
    token2 = c2.cookies["session_token"]
    assert c2.get("/products/list")[0] == 200
    cid2 = app.auth.current_user(spark, token2)["client_id"]
    clients = app.auth.clients
    clients.overwrite_all(
        clients.read(spark).withColumn(
            "active", F.col("active") & (F.col("id") != cid2)
        )
    )
    assert refused(token2)

    c3 = signed_in_client(
        app, SIGNUP_1 | {"email": "testuser3@example.com"}
    )
    token3 = c3.cookies["session_token"]
    assert c3.get("/products/list")[0] == 200
    assert jobs_resolving(token3) == 0
    other = SnapshotTable(str(tmp_path / "users"), USERS_SCHEMA, partition_col="id")
    other.overwrite_all(
        other.read(spark).withColumn(
            "session_token", F.lit(None).cast("string")
        )
    )
    assert refused(token3)
