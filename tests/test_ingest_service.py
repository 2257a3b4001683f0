"""Fidelity suite: every behavioral contract of the reference's ingest path
(B/tests/web/api/test_products.py + B/ingestion/service.py), ported to the
Spark engine (SURVEY §5). Includes the xfail'd update-mode contract
(test_products.py:187-214) as a passing test."""

import csv
import io
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from client_data_ingester_spark.ingestion import (
    IngestionReport,
    ParserConfig,
    ingest_data,
)

BASIC_CONFIG = ParserConfig(
    "csv",
    {
        "sku": ("sku", "text"),
        "title": ("title", "text"),
        "active": ("active", "boolean"),
    },
)


def make_csv(rows, fieldnames=("sku", "title", "active")) -> bytes:
    buf = io.StringIO()
    w = csv.DictWriter(buf, fieldnames=list(fieldnames))
    w.writeheader()
    for r in rows:
        w.writerow(r)
    return buf.getvalue().encode("utf-8")


def rows_of(spark, table, client_id=None):
    df = table.read(spark, client_id)
    return {r["sku"]: r.asDict() for r in df.collect()}


def test_ingest_small_file_inserts(spark, products_table):
    data = make_csv(
        [
            {"sku": "SKU1", "title": "Product 1", "active": "1"},
            {"sku": "SKU2", "title": "Product 2", "active": "0"},
        ]
    )
    rep = ingest_data(spark, products_table, data, BASIC_CONFIG, client_id=1)
    assert rep.success, rep.message
    assert rep.message == "Success"
    assert rep.processed_items == 2
    assert rep.stats == {"processed_count": 2}
    got = rows_of(spark, products_table, 1)
    assert set(got) == {"SKU1", "SKU2"}
    assert got["SKU1"]["title"] == "Product 1"
    assert got["SKU1"]["active"] is True
    assert got["SKU2"]["active"] is False
    assert got["SKU1"]["last_changed_on"] is not None
    assert got["SKU1"]["id"] != got["SKU2"]["id"]


def test_ingest_50_rows(spark, products_table):
    data = make_csv(
        [
            {"sku": f"SKU{i}", "title": f"Product {i}", "active": "1"}
            for i in range(50)
        ]
    )
    rep = ingest_data(spark, products_table, data, BASIC_CONFIG, client_id=1)
    assert rep.success and rep.processed_items == 50
    assert len(rows_of(spark, products_table, 1)) == 50


def test_update_by_sku_only_supplied_columns(spark, products_table):
    # the xfail'd assignment contract (test_products.py:187-214) made to pass
    ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "A1", "title": "Old", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
    )
    before = rows_of(spark, products_table, 1)["A1"]
    # second file supplies only title (active column absent entirely)
    cfg = ParserConfig("csv", {"sku": ("sku", "text"), "title": ("title", "text")})
    rep = ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "A1", "title": "New"}], fieldnames=("sku", "title")),
        cfg,
        client_id=1,
    )
    assert rep.success and rep.processed_items == 1
    after = rows_of(spark, products_table, 1)
    assert len(after) == 1
    got = after["A1"]
    assert got["title"] == "New"
    assert got["active"] is True  # untouched
    assert got["id"] == before["id"]  # same row updated, not replaced
    assert got["last_changed_on"] >= before["last_changed_on"]


def test_update_none_never_overwrites(spark, products_table):
    ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "A1", "title": "Keep", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
    )
    # same mapping, but title cell missing (empty CSV cell is "" not None →
    # use a 2-col file so the title column is absent → null)
    rep = ingest_data(
        spark,
        products_table,
        make_csv(
            [{"sku": "A1", "active": "0"}], fieldnames=("sku", "active")
        ),
        BASIC_CONFIG,
        client_id=1,
    )
    assert rep.success
    got = rows_of(spark, products_table, 1)["A1"]
    assert got["title"] == "Keep"
    assert got["active"] is False


def test_empty_sku_always_inserts(spark, products_table):
    data = make_csv(
        [
            {"sku": "", "title": "Anon 1", "active": "1"},
            {"sku": "", "title": "Anon 2", "active": "1"},
        ]
    )
    rep = ingest_data(spark, products_table, data, BASIC_CONFIG, client_id=1)
    assert rep.success and rep.processed_items == 2
    df = products_table.read(spark, 1)
    assert df.filter(F.col("sku") == "").count() == 2
    # a second file with empty sku inserts again, never matches
    rep = ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "", "title": "Anon 3", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
    )
    assert rep.success
    assert products_table.read(spark, 1).filter(F.col("sku") == "").count() == 3


def test_intra_file_duplicate_sku_last_write_wins_columnwise(
    spark, products_table
):
    # row 2 has no title cell (absent column value) → title survives from row 1;
    # row 2's active overwrites row 1's.
    data = (
        b"sku,title,active\n"
        b"DUP,First Title,1\n"
        b"DUP2,Other,1\n"
    )
    rep = ingest_data(spark, products_table, data, BASIC_CONFIG, client_id=1)
    assert rep.success
    data2 = make_csv(
        [
            {"sku": "DUP", "title": "T1", "active": "1"},
            {"sku": "DUP", "active": "0"},  # title cell "" → overwrites? no:
            # DictWriter writes "" for missing keys → "" IS a value (kept);
            # so use explicit rows instead below.
        ]
    )
    # build precisely: second row's title column missing → ragged CSV row
    data2 = b"sku,active,title\nDUP,1,T1\nDUP,0\n"
    rep = ingest_data(spark, products_table, data2, BASIC_CONFIG, client_id=1)
    assert rep.success and rep.processed_items == 2
    got = rows_of(spark, products_table, 1)["DUP"]
    assert got["title"] == "T1"  # null in later row did not overwrite
    assert got["active"] is False  # later row won
    # only ONE row exists for DUP
    assert products_table.read(spark, 1).filter(F.col("sku") == "DUP").count() == 1


def test_full_update_deactivates_absent_skus(spark, products_table):
    ingest_data(
        spark,
        products_table,
        make_csv(
            [
                {"sku": "KEEP", "title": "K", "active": "1"},
                {"sku": "DROP", "title": "D", "active": "1"},
            ]
        ),
        BASIC_CONFIG,
        client_id=1,
    )
    rep = ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "KEEP", "title": "K2", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
        full_update=True,
    )
    assert rep.success
    assert rep.message == (
        "Full update completed. 1 products processed, 1 products deactivated."
    )
    assert rep.stats == {
        "processed_count": 1,
        "deactivated_count": 1,
        "total_ingested_skus": 1,
    }
    got = rows_of(spark, products_table, 1)
    assert got["KEEP"]["active"] is True and got["KEEP"]["title"] == "K2"
    assert got["DROP"]["active"] is False


def test_default_mode_does_not_deactivate(spark, products_table):
    ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "X", "title": "X", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
    )
    rep = ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "Y", "title": "Y", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
    )
    assert rep.success and rep.stats == {"processed_count": 1}
    got = rows_of(spark, products_table, 1)
    assert got["X"]["active"] is True and got["Y"]["active"] is True


def test_multi_tenant_isolation(spark, products_table):
    data = make_csv([{"sku": "SHARED", "title": "C1", "active": "1"}])
    ingest_data(spark, products_table, data, BASIC_CONFIG, client_id=1)
    data2 = make_csv([{"sku": "SHARED", "title": "C2", "active": "1"}])
    ingest_data(spark, products_table, data2, BASIC_CONFIG, client_id=2)
    got1 = rows_of(spark, products_table, 1)["SHARED"]
    got2 = rows_of(spark, products_table, 2)["SHARED"]
    assert got1["title"] == "C1" and got1["active"] is True
    assert got2["title"] == "C2" and got2["active"] is True
    # full update for client 1 must not touch client 2
    ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "OTHER", "title": "O", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
        full_update=True,
    )
    assert rows_of(spark, products_table, 1)["SHARED"]["active"] is False
    assert rows_of(spark, products_table, 2)["SHARED"]["active"] is True


def test_invalid_boolean_aborts_whole_file(spark, products_table):
    ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "OK", "title": "ok", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
    )
    bad = make_csv(
        [
            {"sku": "NEW", "title": "fine row", "active": "1"},
            {"sku": "BAD", "title": "bad row", "active": "maybe"},
        ]
    )
    rep = ingest_data(spark, products_table, bad, BASIC_CONFIG, client_id=1)
    assert not rep.success
    assert rep.message.startswith("Error processing data:")
    assert rep.processed_items == 0 and rep.stats == {}
    got = rows_of(spark, products_table, 1)
    assert set(got) == {"OK"}  # zero rows changed


def test_invalid_decimal_aborts_whole_file(spark, products_table):
    cfg = ParserConfig(
        "csv", {"sku": ("sku", "text"), "price": ("max_price", "decimal")}
    )
    bad = make_csv(
        [{"sku": "A", "price": "$12.50"}, {"sku": "B", "price": "twelve"}],
        fieldnames=("sku", "price"),
    )
    rep = ingest_data(spark, products_table, bad, cfg, client_id=1)
    assert not rep.success
    assert rows_of(spark, products_table, 1) == {}


def test_full_transformer_width(spark, products_table):
    cfg = ParserConfig(
        "csv",
        {
            "SKU": ("sku", "text"),
            "external_ref": ("remote_id", "text"),
            "Brand": ("brand", "text"),
            "Product Title": ("title", "text"),
            "qty": ("stock_quantity", "integer"),
            "max $": ("max_price", "decimal"),
            "min $": ("min_price", "decimal"),
            "is_active": ("active", "boolean"),
        },
    )
    hdr = ("SKU", "external_ref", "Brand", "Product Title", "qty", "max $", "min $", "is_active")
    data = make_csv(
        [
            {
                "SKU": "  S1  ",
                "external_ref": "r-1",
                "Brand": "Acme",
                "Product Title": "Widget",
                "qty": "12.7",
                "max $": "$1,234.56",
                "min $": "£99.90",
                "is_active": " YES ",
            },
            {
                "SKU": "S2",
                "external_ref": "r-2",
                "Brand": "Acme",
                "Product Title": "Gadget",
                "qty": "abc",
                "max $": "10",
                "min $": "1",
                "is_active": "0",
            },
        ],
        fieldnames=hdr,
    )
    rep = ingest_data(spark, products_table, data, cfg, client_id=7)
    assert rep.success, rep.message
    got = rows_of(spark, products_table, 7)
    s1 = got["S1"]  # whitespace stripped by text transformer
    assert s1["stock_quantity"] == 12
    assert s1["max_price"] == Decimal("1234.56")
    assert s1["min_price"] == Decimal("99.90")
    assert s1["active"] is True
    s2 = got["S2"]
    assert s2["stock_quantity"] == 0  # integer garbage → silent 0
    assert s2["active"] is False


def test_unmapped_columns_silently_dropped(spark, products_table):
    data = make_csv(
        [{"sku": "U1", "title": "T", "active": "1", "junk": "zzz"}],
        fieldnames=("sku", "title", "active", "junk"),
    )
    rep = ingest_data(spark, products_table, data, BASIC_CONFIG, client_id=1)
    assert rep.success
    assert "junk" not in products_table.read(spark, 1).columns


def test_header_whitespace_stripped(spark, products_table):
    data = b" sku ,title , active\nW1,Wide,1\n"
    rep = ingest_data(spark, products_table, data, BASIC_CONFIG, client_id=1)
    assert rep.success, rep.message
    assert rows_of(spark, products_table, 1)["W1"]["title"] == "Wide"


def test_json_parser_same_pipeline(spark, products_table):
    cfg = ParserConfig(
        "json",
        {
            "sku": ("sku", "text"),
            "title": ("title", "text"),
            "active": ("active", "boolean"),
        },
    )
    payload = json.dumps(
        [
            {"sku": "J1", "title": "Json 1", "active": "yes"},
            {"sku": "J2", "title": "Json 2", "active": "no"},
        ]
    ).encode()
    rep = ingest_data(spark, products_table, payload, cfg, client_id=3)
    assert rep.success, rep.message
    got = rows_of(spark, products_table, 3)
    assert got["J1"]["active"] is True and got["J2"]["active"] is False


def test_json_whitespace_padded_keys_keep_values(spark, products_table):
    """JSON key-strip parity with the CSV header strip: values must be
    fetched under each record's ORIGINAL key — a stripped-name lookup
    against the un-stripped record would silently null out every
    whitespace-padded key's cells (here: a null sku aborting the file)."""
    cfg = ParserConfig(
        "json",
        {
            "sku": ("sku", "text"),
            "title": ("title", "text"),
        },
    )
    payload = json.dumps(
        [{" sku ": "JP1", "title": "Padded"}]
    ).encode()
    rep = ingest_data(spark, products_table, payload, cfg, client_id=4)
    assert rep.success, rep.message
    assert rows_of(spark, products_table, 4)["JP1"]["title"] == "Padded"


def test_unknown_parser_is_error_report(spark, products_table):
    rep = ingest_data(
        spark,
        products_table,
        b"sku\nA\n",
        ParserConfig("xml", {"sku": ("sku", "text")}),
        client_id=1,
    )
    assert not rep.success and rep.message.startswith("Error processing data:")


def test_invalid_target_column_is_error_report(spark, products_table):
    rep = ingest_data(
        spark,
        products_table,
        b"sku\nA\n",
        ParserConfig("csv", {"sku": ("nope", "text")}),
        client_id=1,
    )
    assert not rep.success


def test_missing_sku_column_aborts(spark, products_table):
    # reference: insert with NULL sku → NOT NULL violation → file aborted
    cfg = ParserConfig("csv", {"title": ("title", "text")})
    rep = ingest_data(
        spark, products_table, b"title\nOnly title\n", cfg, client_id=1
    )
    assert not rep.success
    assert rows_of(spark, products_table, 1) == {}


def test_full_update_empty_file_deactivates_everything(spark, products_table):
    ingest_data(
        spark,
        products_table,
        make_csv([{"sku": "A", "title": "A", "active": "1"}]),
        BASIC_CONFIG,
        client_id=1,
    )
    rep = ingest_data(
        spark,
        products_table,
        b"sku,title,active\n",
        BASIC_CONFIG,
        client_id=1,
        full_update=True,
    )
    assert rep.success
    assert rep.stats["deactivated_count"] == 1
    assert rows_of(spark, products_table, 1)["A"]["active"] is False


def test_csv_path_source_distributed_read(spark, products_table, tmp_path):
    # the scale path: a landing file read by executors, not driver bytes
    p = tmp_path / "landing.csv"
    p.write_text("sku,title,active\nF1,FromFile,1\nF2,FromFile2,0\n")
    rep = ingest_data(
        spark, products_table, str(p), BASIC_CONFIG, client_id=1
    )
    assert rep.success, rep.message
    got = rows_of(spark, products_table, 1)
    assert set(got) == {"F1", "F2"}
    assert got["F2"]["active"] is False


def test_json_path_source(spark, products_table, tmp_path):
    p = tmp_path / "landing.json"
    p.write_text(
        '[{"sku": "J1", "title": "A", "active": "1"},\n'
        ' {"sku": "J2", "title": "B", "active": "0"}]'
    )
    cfg = ParserConfig(
        "json",
        {
            "sku": ("sku", "text"),
            "title": ("title", "text"),
            "active": ("active", "boolean"),
        },
    )
    rep = ingest_data(spark, products_table, str(p), cfg, client_id=1)
    assert rep.success, rep.message
    assert set(rows_of(spark, products_table, 1)) == {"J1", "J2"}


def test_multifile_ingest_twice_ids_stay_unique(spark, products_table, tmp_path):
    """The id ledger must cover SPARSE insert ids. A multi-file read's
    _row_idx is monotonically_increasing_id (partition p's rows start at
    p*2^33), so assigned ids can vastly exceed id_base + processed_count;
    overwrite_partitions therefore records max(id) from the written data.
    Before that fix, the recorded max_id fell below live ids and a later
    ingest could re-assign them (round-2 advisor, high)."""
    d1 = tmp_path / "batch1"
    d1.mkdir()
    for part in range(2):  # two files -> >=2 read partitions -> sparse ids
        with open(d1 / f"part{part}.csv", "w") as f:
            f.write("sku,title,active\n")
            for i in range(5):
                f.write(f"A{part}_{i},First,1\n")
    rep = ingest_data(spark, products_table, str(d1), BASIC_CONFIG, client_id=1)
    assert rep.success, rep.message
    ids1 = [r["id"] for r in products_table.read(spark, 1).select("id").collect()]
    ledger1 = int(products_table.current_manifest().props["max_id"])
    # the invariant that makes future ids unique: no live id above the ledger
    assert max(ids1) <= ledger1

    d2 = tmp_path / "batch2"
    d2.mkdir()
    for part in range(2):
        with open(d2 / f"part{part}.csv", "w") as f:
            f.write("sku,title,active\n")
            for i in range(5):
                f.write(f"B{part}_{i},Second,1\n")
    rep2 = ingest_data(spark, products_table, str(d2), BASIC_CONFIG, client_id=1)
    assert rep2.success, rep2.message
    rows = products_table.read(spark, 1).select("id", "sku").collect()
    ids = [r["id"] for r in rows]
    assert len(rows) == 20
    assert len(set(ids)) == 20  # no duplicate surrogate ids across ingests
    assert max(ids) <= int(products_table.current_manifest().props["max_id"])


def test_duplicate_target_mapping_is_last_file_column_wins(spark, tmp_path):
    """Two source columns mapping to the same target must collapse the
    way the reference's row dict comprehension does — the LATER file
    column wins (B/ingestion/service.py:86) — instead of producing a
    duplicate-aliased projection that rejects the file with a raw
    Catalyst AMBIGUOUS_REFERENCE error."""
    from client_data_ingester_spark.ingestion.mapping import (
        CompiledMapping,
        ParserConfig,
        compile_mapping,
    )

    df = spark.createDataFrame(
        [("first", "second", "S1")], "c1 string, c2 string, sku string"
    )
    cfg = ParserConfig(
        parser_id="csv",
        column_mapping={
            "c1": ("title", "text"),
            "c2": ("title", "text"),
            "sku": ("sku", "text"),
        },
    )
    compiled = compile_mapping(cfg, df)
    assert isinstance(compiled, CompiledMapping)
    # one projection per distinct target; all three mapped columns still
    # validate (the losing column's garbage must still abort the file)
    assert len(compiled.projection) == 2
    assert len(compiled.invalid_flags) == 3
    [row] = df.select(*compiled.projection).collect()
    assert row["title"] == "second"
    assert row["sku"] == "S1"
    # the merge path must receive the DEDUPED list
    assert compiled.distinct_targets == ["title", "sku"]


def test_duplicate_target_full_ingest_last_column_wins(spark, products_table):
    """End-to-end ingest with a duplicate-target mapping: the file must be
    ACCEPTED with last-file-column-wins semantics (reference dict collapse,
    B/ingestion/service.py:86), not rejected with AMBIGUOUS_REFERENCE from
    fold_duplicate_skus emitting two aggregates aliased to the same name."""
    cfg = ParserConfig(
        "csv",
        {
            "sku": ("sku", "text"),
            "name_a": ("title", "text"),
            "name_b": ("title", "text"),
            "active": ("active", "boolean"),
        },
    )
    data = make_csv(
        [
            {"sku": "D1", "name_a": "loser", "name_b": "winner", "active": "1"},
            # duplicate sku in-file too: exercises fold_duplicate_skus with
            # the deduped target list
            {"sku": "D1", "name_a": "loser2", "name_b": "winner2", "active": "1"},
        ],
        fieldnames=("sku", "name_a", "name_b", "active"),
    )
    rep = ingest_data(spark, products_table, data, cfg, client_id=1)
    assert rep.success, rep.message
    got = rows_of(spark, products_table, 1)
    assert got["D1"]["title"] == "winner2"
    assert got["D1"]["active"] is True
    # a garbage value in the LOSING column must still abort the whole file
    bad = make_csv(
        [{"sku": "D2", "name_a": "x", "name_b": "y", "active": "1"}],
        fieldnames=("sku", "name_a", "name_b", "active"),
    )
    bad_cfg = ParserConfig(
        "csv",
        {
            "sku": ("sku", "text"),
            "name_a": ("max_price", "decimal"),  # loser, garbage
            "name_b": ("max_price", "decimal"),  # winner, also garbage
            "active": ("active", "boolean"),
        },
    )
    rep2 = ingest_data(spark, products_table, bad, bad_cfg, client_id=1)
    assert not rep2.success
    assert "invalid value" in rep2.message
    assert "D2" not in rows_of(spark, products_table, 1)


def test_dense_row_idx_order_isomorphic_and_tight(spark):
    """r13 review: id blocks are sized by max(row_idx)+1, so the sparse
    monotonically_increasing_id index (partition id in the upper bits)
    burned ~partitions·2^33 ids per ingest. The staging pass must rewrite
    it to a tight per-batch index that preserves ORDER exactly (fold
    winners and insert order are order-functions of the index)."""
    from client_data_ingester_spark.ingestion.mapping import ParserConfig
    from client_data_ingester_spark.ingestion.parsers import ROW_IDX_COL
    from client_data_ingester_spark.ingestion.service import stage_updates

    cfg = ParserConfig("csv", {"sku": ("sku", "text")})
    stride = 1 << 33
    sparse = [0, 1, stride, stride + 1, 3 * stride + 5]  # gaps included
    df = spark.createDataFrame(
        [(f"r{i}", idx) for i, idx in enumerate(sparse)],
        f"sku string, {ROW_IDX_COL} long",
    )
    with stage_updates(df, cfg) as st:
        span = st.id_span
        rows = {r["sku"]: r[ROW_IDX_COL] for r in st.updates.collect()}
    # tight: span ≤ Σ (max_lower+1) per partition = 2 + 2 + 6 = 10
    assert span == 10
    assert all(0 <= v < span for v in rows.values())
    # order-isomorphic to the sparse input
    order_old = sorted(range(len(sparse)), key=lambda i: sparse[i])
    order_new = sorted(range(len(sparse)), key=lambda i: rows[f"r{i}"])
    assert order_old == order_new
    assert len(set(rows.values())) == len(rows)
    # already-dense input (driver-side parsers) passes through unchanged
    dense_in = spark.createDataFrame(
        [(f"d{i}", i) for i in range(4)], f"sku string, {ROW_IDX_COL} long"
    )
    with stage_updates(dense_in, cfg) as st2:
        assert st2.id_span == 4
        assert {r["sku"]: r[ROW_IDX_COL] for r in st2.updates.collect()} == {
            f"d{i}": i for i in range(4)
        }


def test_ingest_id_space_consumption_is_row_bounded(spark, tmp_path):
    """The id ledger advances by at most the file's row count per ingest
    (tight reserved blocks), never by the 2^33 partition stride."""
    from client_data_ingester_spark.ingestion import (
        ParserConfig, ingest_data,
    )
    from client_data_ingester_spark.schemas import CLIENT_PRODUCTS_SCHEMA
    from client_data_ingester_spark.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"), CLIENT_PRODUCTS_SCHEMA)
    cfg = ParserConfig(
        "csv", {"sku": ("sku", "text"), "title": ("title", "text")}
    )
    csv = ("sku,title\n" + "".join(
        f"S{i},P{i}\n" for i in range(50)
    )).encode()
    assert ingest_data(spark, t, csv, cfg, client_id=1).success
    after1 = int(t.current_manifest().props["max_id"])
    assert after1 <= 50
    # a pure-UPDATE batch (same skus) still only burns ≤ row-count ids
    assert ingest_data(spark, t, csv, cfg, client_id=1).success
    after2 = int(t.current_manifest().props["max_id"])
    assert after2 - after1 <= 50


# -- upload frame and per-upload fixed cost ------------------------------------


def test_upload_frame_cells_headers_and_partitions(spark):
    """The Arrow upload frame keeps the python-csv cell contract: a quoted
    "" stays "", missing trailing cells are null, headers are stripped but
    never merged, and a file of up to 50k rows is ONE partition whatever
    the session's parallelism (every ingest stage then runs one task)."""
    from client_data_ingester_spark.ingestion.parsers import read_csv

    df = read_csv(spark, b'sku, title ,title,active\n"",a,b,1\nS2,c\n')
    assert df.columns == ["sku", "title", "title", "active", "_row_idx"]
    assert [tuple(r) for r in df.collect()] == [
        ("", "a", "b", "1", 0),
        ("S2", "c", None, None, 1),
    ]
    assert read_csv(spark, b"").collect() == []
    body = b"sku\n" + b"".join(b"S%d\n" % i for i in range(50_000))
    assert spark.sparkContext.defaultParallelism > 1
    assert read_csv(spark, body).rdd.getNumPartitions() == 1
    assert read_csv(spark, body + b"S50000\n").rdd.getNumPartitions() == 2


def test_upload_frame_ingest_contract(spark, products_table):
    """End to end over the upload frame: duplicate stripped headers are
    rejected as ambiguous (no silent pick), an unmapped duplicate header
    is dropped, and an empty payload succeeds with 0 processed."""
    rep = ingest_data(
        spark, products_table, b"sku, title ,title \nA,x,y\n", BASIC_CONFIG, 1
    )
    assert not rep.success and "AMBIGUOUS_REFERENCE" in rep.message
    rep = ingest_data(
        spark, products_table, b"sku,junk,junk,title\nA,1,2,t\n", BASIC_CONFIG, 1
    )
    assert rep.success and rep.processed_items == 1
    assert rows_of(spark, products_table, 1)["A"]["title"] == "t"
    rep = ingest_data(spark, products_table, b"", BASIC_CONFIG, client_id=1)
    assert rep.success and rep.processed_items == 0


def test_upload_fixed_cost_spark_jobs(spark, products_table):
    """A conflict-free 200-row upload onto an existing tenant runs at most
    5 Spark jobs: one validation aggregate and the merge write with its
    shuffle stages — nothing per column or per row."""
    import uuid

    def upload(n0):
        rows = [
            {"sku": f"S{i}", "title": f"t{i}", "active": "1"}
            for i in range(n0, n0 + 200)
        ]
        return make_csv(rows)

    assert ingest_data(spark, products_table, upload(0), BASIC_CONFIG, 1).success
    sc = spark.sparkContext
    group = f"fixed-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "upload fixed-cost probe")
    try:
        rep = ingest_data(spark, products_table, upload(100), BASIC_CONFIG, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep.success, rep.message
    assert "merge_conflict_rounds" not in rep.stats
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


def test_merge_plan_py4j_budget(spark, products_table):
    """Building the merge plan and the commit's stage projection is a
    fixed plan-building cost paid on every upload and conflict retry; as
    SQL text it stays a few hundred py4j round trips (as Column trees it
    was ~2,000)."""
    import datetime

    from client_data_ingester_spark.ingestion.service import (
        _DATA_COLS,
        merge_products,
    )

    mapped = ["sku", "active", "last_changed_on", *_DATA_COLS]
    current = products_table.read(spark, 1)
    updates = current.selectExpr(*mapped, "CAST(0 AS BIGINT) AS _row_idx")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counted(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        merged = merge_products(
            current, updates, mapped, 1, True,
            datetime.datetime(2024, 1, 1), id_base=0,
        )
        products_table.cast_to_schema(merged)
    finally:
        client.send_command = send
    assert calls <= 300, calls
