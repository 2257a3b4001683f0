"""Self-tests of the benchmark: inputs, reference model, output shape.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
import model as ref  # noqa: E402
import workloads  # noqa: E402


def _uploads(seed: int, n: int) -> list[gen.Upload]:
    rng = random.Random(seed)
    tenants = gen.make_tenants(rng, gen.INGEST["tenants"], *gen.INGEST["catalog_rows"])
    keys = gen.KeySpace({t.cid: t.rows for t in tenants})
    mix = gen.Mix()
    return [gen.make_upload(rng, mix, gen.pick_tenant(mix.tenant.draw(), tenants).cid,
                            keys, gen.INGEST)
            for _ in range(n)]


def _stream(seed: int, n: int) -> list[bytes]:
    rng = random.Random(seed)
    st = gen.StreamState(gen.KeySpace({1: 100}), gen.Mix())
    steps = [gen.make_stream_step(rng, i, 1, st) for i in range(n)]
    return [b for s in steps for b in (s.products.body, s.docs_body(), s.events_body())]


def test_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = _uploads(7, 40), _uploads(7, 40), _uploads(8, 40)
    assert [u.body for u in a] == [u.body for u in b]
    assert [u.body for u in a] != [u.body for u in c]
    assert _stream(7, 3) == _stream(7, 3) != _stream(8, 3)
    rng1, rng2 = random.Random(7), random.Random(8)
    s1 = [gen.make_search(rng1, gen.make_tenants(random.Random(0), 12, 10, 10_000))
          for _ in range(50)]
    s2 = [gen.make_search(rng2, gen.make_tenants(random.Random(0), 12, 10, 10_000))
          for _ in range(50)]
    assert s1 != s2


def test_other_seed_same_cost_schedule_other_content():
    lo, hi = gen.INGEST["file_rows"]
    draws = gen.Halton(2)
    sizes = [gen.skewed_size(draws.draw(), lo, hi, gen.INGEST["file_median_rows"])
             for _ in range(2000)]
    assert lo <= min(sizes) and max(sizes) <= hi
    m = statistics.median(sizes)
    assert 0.8 * gen.INGEST["file_median_rows"] < m < 1.25 * gen.INGEST["file_median_rows"]
    a, b = _uploads(3, 140), _uploads(4, 140)
    shape = lambda u: (len(u.rows), u.full_update, u.invalid)  # noqa: E731
    assert [shape(u) for u in a] == [shape(u) for u in b]
    assert [u.body for u in a] != [u.body for u in b]
    full = sum(u.full_update for u in a) / len(a)
    bad = sum(u.invalid for u in a) / len(a)
    assert 0.10 < full < 0.20 and 0.01 < bad < 0.06


def test_tail_is_the_highest_percentile_with_ten_above():
    t = metrics.tail(range(100))
    assert t["value"] == 89 and t["above"] == 10 and t["n"] == 100
    assert metrics.tail([1.0] * 5)["above"] == 0


def test_benchmark_json_lists_the_runner_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


class _Ctx:
    seed = 1
    tracer = None


def test_detail_lines_carry_all_sixteen_names_with_units():
    """Each workload's named metrics, plus the three every workload
    reports, cover the sixteen end-to-end names with their units."""
    up = _uploads(1, 1)[0]
    ing = workloads.TenantIngest(_Ctx())
    ing.records = [{"up": up, "wall": 1.0, "rb_wall": 0.2, "timed": True}] * 12
    ing.table_bytes, ing.live_csv = 300, 100
    srch = workloads.TenantSearch(_Ctx())
    srch.records = [{"wall": 0.1, "timed": True}] * 12
    board = workloads.AnalyticsBoard(_Ctx())
    board.records = [{"entry": n, "wall": 0.5, "timed": True} for n in workloads.BOARD]
    board.family = {}
    strm = workloads.LandingStream(_Ctx())
    strm.records = [{"lat": dict.fromkeys(metrics.STREAMS, 1.0), "rows": 10,
                     "wall": 2.0, "timed": True}] * 4
    got = {"setup_s": "s", "op_fail_frac": "ratio", "peak_rss_mb": "MB"}
    for wl in (ing, srch, board, strm):
        for k, v in wl.detail(10.0).items():
            if k in metrics.DETAIL_UNITS:
                got[k] = v["unit"]
                if k.endswith("_tail_s"):
                    assert {"percentile", "n", "above"} <= set(v)
    assert got == metrics.DETAIL_UNITS


# ---- the model against the program ---------------------------------------


@pytest.fixture(scope="module")
def spark():
    from client_data_ingester_spark.session import get_spark

    s = get_spark(cpus=2)
    yield s


def _ingest(spark, table, cid, header, rows, full_update=False):
    from client_data_ingester_spark.ingestion import ParserConfig, ingest_data

    cfg = ParserConfig("csv", {k: tuple(v) for k, v in gen.MAPPING.items()})
    w0 = workloads.utcnow()
    rep = ingest_data(spark, table, gen.to_csv(header, rows), cfg, cid,
                      full_update=full_update)
    got = {"success": rep.success, "message": rep.message,
           "processed_items": rep.processed_items, "stats": rep.stats}
    return got, (w0, workloads.utcnow())


CASES = [
    # (header, rows, full_update): applied in order to one tenant
    (["sku", "title", "price", "active"],
     [["A", "first", "1.00", "yes"], ["B", "second", "2.00", "no"],
      ["", "blank one", "3.00", "1"]], False),
    # a null (missing cell) never overwrites; repeated sku folds column-wise
    (["sku", "price", "title"],
     [["A", "9.99", None], ["A", None, None], ["", "4.00", None]], False),
    # full update: B and both empty-sku rows are deactivated and counted
    (["sku", "qty"], [["A", "3"], ["C", "7.9"]], True),
    # one invalid boolean rejects the whole file
    (["sku", "active"], [["A", "no"], ["D", "maybe"]], False),
    # one invalid decimal rejects a full update too
    (["sku", "price"], [["A", "1.2.3"]], True),
]


def test_model_agrees_with_ingest_data(spark, tmp_path):
    from client_data_ingester_spark.schemas import CLIENT_PRODUCTS_SCHEMA
    from client_data_ingester_spark.tables import SnapshotTable

    table = SnapshotTable(str(tmp_path / "products"), CLIENT_PRODUCTS_SCHEMA)
    mdl = ref.Model()
    windows = []
    for op, (header, rows, full) in enumerate(CASES):
        want = mdl.apply(7, header, rows, full, op)
        got, window = _ingest(spark, table, 7, header, rows, full)
        windows.append(window)
        assert ref.check_report(want, got) is None, (op, want, got)
    final = [r.asDict() for r in table.read(spark).collect()]
    assert ref.check_table(mdl, final, windows) == []
    a = next(r for r in final if r["sku"] == "A")
    assert a["title"] == "first" and str(a["max_price"]) == "9.99"
    assert a["stock_quantity"] == 3 and a["active"] is True
    assert sum(1 for r in final if r["sku"] == "") == 2
    assert sum(1 for r in final if not r["active"]) == 3
    ranked = mdl.page(7, "a")
    assert ref.check_page(ranked, "a", 0, 5, [dict(r) for r in ranked[:5]]) is None
