"""The one stage-and-commit path behind both SnapshotTable overwrites.

``overwrite_partitions`` and ``overwrite_all`` differ only in their
under-lock conflict check and in how they encode the next version; the
written partition values and ``max_id`` come from one observation on the
write job itself, so neither overwrite reads its own output back.
"""

import uuid

import pytest
from pyspark.sql import types as T

from client_data_ingester_spark.schemas import CLIENT_PRODUCTS_SCHEMA
from client_data_ingester_spark.tables import SnapshotTable

# a table with no ``id`` column: nothing to fold into the max_id ledger
_NO_ID_SCHEMA = T.StructType(
    [
        T.StructField("client_id", T.IntegerType()),
        T.StructField("name", T.StringType()),
    ]
)


def _products(spark, client_id, skus):
    rows = [
        (i + 1, client_id, sku, None, None, None, None, None, True,
         None, None, None)
        for i, sku in enumerate(skus)
    ]
    return spark.createDataFrame(rows, CLIENT_PRODUCTS_SCHEMA)


@pytest.mark.parametrize("layout", ["single", "sharded"])
def test_overwrite_all_round_trips_table_without_id(spark, tmp_path, layout):
    t = SnapshotTable(
        str(tmp_path / "t"), _NO_ID_SCHEMA, manifest_layout=layout,
        manifest_groups=4,
    )
    first = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], _NO_ID_SCHEMA
    )
    m = t.overwrite_all(first)
    assert m.version == 1
    assert "max_id" not in m.props
    assert sorted(t.current_manifest().partitions) == ["1", "2"]
    assert sorted(map(tuple, t.read(spark).collect())) == [
        (1, "a"), (1, "b"), (2, "c")
    ]
    # a second replace drops every previous partition
    m = t.overwrite_all(
        spark.createDataFrame([(3, "d")], _NO_ID_SCHEMA),
        expected_version=1,
    )
    assert m.version == 2
    assert sorted(t.current_manifest().partitions) == ["3"]
    assert [tuple(r) for r in t.read(spark).collect()] == [(3, "d")]
    assert t.read(spark, 1).count() == 0
    assert sorted(map(tuple, t.read(spark, version=1).collect())) == [
        (1, "a"), (1, "b"), (2, "c")
    ]


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"write-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "snapshot write-path job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_overwrite_all_runs_as_many_jobs_as_overwrite_partitions(
    spark, tmp_path
):
    """Both overwrites stage the same frame with the same single write
    job; overwrite_all no longer reads its output back for the written
    partition values and max_id."""
    df = _products(spark, 1, ["A", "B", "C"])
    parts = SnapshotTable(str(tmp_path / "parts"), CLIENT_PRODUCTS_SCHEMA)
    whole = SnapshotTable(str(tmp_path / "whole"), CLIENT_PRODUCTS_SCHEMA)
    n_parts = _jobs(spark, lambda: parts.overwrite_partitions(df, [1]))
    n_whole = _jobs(spark, lambda: whole.overwrite_all(df))
    assert n_parts >= 1
    assert n_whole == n_parts
    # both folded the written ids into the ledger and mapped partition 1
    for t in (parts, whole):
        m = t.current_manifest()
        assert int(m.props["max_id"]) == 3
        assert list(m.partitions) == ["1"]
