"""Schema registry — single source of truth for persistent table schemas.

Mirrors the reference DDL (B/db/migrations/000/001_up_init.sql:1-36 and
B/db/models.py:6-50, where B/ = mply_ingester/backend/mply_ingester/):
``clients``, ``users``, ``client_products``. Prices are DecimalType(12,2) —
never Double (SURVEY §1.2). VARCHAR length limits are not represented (Spark
strings are unbounded; enforcement would be a validation expression).

The set of legal ingest target columns replicates
ALL_MULTIPLY_COLUMN_NAMES (B/ingestion/base.py:13-17): every
``client_products`` column except the surrogate ``id``.
"""

from __future__ import annotations

from pyspark.sql import types as T

CLIENT_PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("client_id", T.IntegerType(), False),
        T.StructField("sku", T.StringType(), False),
        T.StructField("remote_id", T.StringType(), True),
        T.StructField("brand", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("last_changed_on", T.TimestampNTZType(), True),
        T.StructField("stock_quantity", T.IntegerType(), True),
        T.StructField("active", T.BooleanType(), False),
        T.StructField("max_price", T.DecimalType(12, 2), True),
        T.StructField("min_price", T.DecimalType(12, 2), True),
        T.StructField("reference_price", T.DecimalType(12, 2), True),
    ]
)

CLIENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("company_name", T.StringType(), False),
        T.StructField("sign_up_dt", T.TimestampNTZType(), False),
        T.StructField("address", T.StringType(), True),
        T.StructField("active", T.BooleanType(), False),
    ]
)

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("client_id", T.IntegerType(), False),
        T.StructField("email", T.StringType(), False),
        T.StructField("full_name", T.StringType(), False),
        T.StructField("created_on", T.TimestampNTZType(), False),
        T.StructField("password_hash", T.StringType(), False),
        T.StructField("active", T.BooleanType(), False),
        T.StructField("session_token", T.StringType(), True),
        T.StructField("last_login", T.TimestampNTZType(), True),
    ]
)

TABLE_SCHEMAS = {
    "client_products": CLIENT_PRODUCTS_SCHEMA,
    "clients": CLIENTS_SCHEMA,
    "users": USERS_SCHEMA,
}

# Legal ingest mapping targets (B/ingestion/base.py:13-17): every
# client_products column except the surrogate PK.
ALL_TARGET_COLUMN_NAMES = [
    f.name for f in CLIENT_PRODUCTS_SCHEMA.fields if f.name != "id"
]


def sql_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier (embedded backquotes
    doubled), for plans built as SQL text."""
    return "`" + name.replace("`", "``") + "`"
