"""Encoding-robustness for the shared testdata loader.

Round-5 regression trap: the testdata's events.ts column switched from
TIMESTAMP(NANOS) to TIMESTAMP(MICROS) between rounds and a hard-coded
``ts DIV 1000`` nanos assumption killed every events-reading query.  The
loader must yield identical rows from either encoding.
"""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from client_data_ingester_spark.sources import load_table, normalize_event_ts

ROWS = [
    (1, "u1", "view", datetime.datetime(2024, 1, 1, 0, 0, 0, 123456), 1.5),
    (2, "u2", "click", datetime.datetime(2024, 1, 2, 12, 30, 45, 654321), 2.5),
    (3, "u1", "view", datetime.datetime(2024, 1, 3, 23, 59, 59, 999999), 3.5),
]


def _write(tmpdir: str, unit: str) -> str:
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "user_id": pa.array([r[1] for r in ROWS], pa.string()),
            "event_type": pa.array([r[2] for r in ROWS], pa.string()),
            "ts": pa.array([r[3] for r in ROWS], pa.timestamp(unit)),
            "value": pa.array([r[4] for r in ROWS], pa.float64()),
        }
    )
    path = f"{tmpdir}/events.parquet"
    # store_schema=False drops the Arrow schema blob so readers see the raw
    # parquet logical type (TIMESTAMP(NANOS) vs MICROS), like the testdata
    pq.write_table(table, path, store_schema=False)
    return path


def _collect(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    return sorted(
        (r["event_id"], r["ts"].replace(tzinfo=None))
        for r in df.select("event_id", "ts").collect()
    )


def test_loader_handles_nanos_and_micros_identically(spark, tmp_path):
    nanos_dir = tmp_path / "nanos"
    micros_dir = tmp_path / "micros"
    nanos_dir.mkdir()
    micros_dir.mkdir()
    _write(str(nanos_dir), "ns")
    _write(str(micros_dir), "us")

    got_nanos = _collect(spark, str(nanos_dir))
    got_micros = _collect(spark, str(micros_dir))

    expected = sorted((r[0], r[3]) for r in ROWS)
    assert got_nanos == expected
    assert got_micros == expected
    assert got_nanos == got_micros


def test_loader_matches_live_testdata_schema(spark):
    from conftest import SF_DIR

    df = load_table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.limit(1).count() == 1


def test_normalize_rejects_unsupported_dtype(spark):
    df = spark.range(1).selectExpr("CAST('x' AS STRING) AS ts")
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_event_ts(df)


def test_load_table_repins_utc_and_evicts_stale_sessions(spark, tmp_path):
    """A cache hit still re-pins the session time zone to UTC (the cached
    handle's timestamp expressions are evaluated in the session zone at
    execution time), and handles cached under another applicationId are
    evicted on the next load."""
    from client_data_ingester_spark.sources import testdata

    _write(str(tmp_path), "us")
    sf_dir = str(tmp_path)
    expected = sorted((r[0], r[3]) for r in ROWS)
    assert _collect(spark, sf_dir) == expected  # fills the handle cache
    key = (spark.sparkContext.applicationId, sf_dir, "events")
    stale = ("stale-application-id", sf_dir, "events")
    testdata._HANDLE_CACHE[stale] = testdata._HANDLE_CACHE[key]
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert _collect(spark, sf_dir) == expected  # cache hit
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert key in testdata._HANDLE_CACHE
    assert stale not in testdata._HANDLE_CACHE
