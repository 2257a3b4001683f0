"""The workloads: set-up, a closed timed loop, a correctness check, metrics.

Each workload drives the program only through its public entry points
(``SparkIngesterApp`` called in-process as WSGI, ``SnapshotTable``,
``__spark_entry__.queries()`` and the ``streaming`` starters). One client
thread sends the next request only after the previous reply: a closed
loop. Every operation's output is recorded during the loop and compared
with the reference after it, outside the timed region.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import random
import time
import types
from collections import Counter, defaultdict
from urllib.parse import urlencode

import gen
import model as ref
from metrics import FAMILIES, STREAMS, geomean, kind_median, median, metric, tail
from spans import layer_of, per_op, walk


def utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def before(deadline: float, last: float) -> bool:
    """Whether another operation like the last one (``last`` seconds) would
    end nearer the deadline than stopping now: the loop then lasts the
    asked-for time on average, however long one operation is."""
    return time.perf_counter() + last / 2 < deadline


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Client:
    """Minimal in-process WSGI client: no socket, one call per request."""

    def __init__(self, app):
        self.app = app

    def call(self, method, path, token, query="", body=b"", content_type=""):
        environ = {
            "REQUEST_METHOD": method, "PATH_INFO": path, "QUERY_STRING": query,
            "CONTENT_LENGTH": str(len(body)), "CONTENT_TYPE": content_type,
            "wsgi.input": io.BytesIO(body), "HTTP_COOKIE": f"session_token={token}",
        }
        status = []
        chunks = self.app(environ, lambda s, _h: status.append(int(s.split()[0])))
        return status[0], json.loads(b"".join(chunks))

    def ingest(self, token, up: gen.Upload, boundary: str):
        fields = {
            "parser_config": json.dumps({"parser_id": "csv", "column_mapping": gen.MAPPING}).encode(),
            "data_file": up.body,
        }
        if up.full_update:
            fields["full_update"] = b"true"
        parts = []
        for name, value in fields.items():
            fname = '; filename="upload.csv"' if name == "data_file" else ""
            parts.append(
                f'--{boundary}\r\nContent-Disposition: form-data; name="{name}"{fname}\r\n\r\n'.encode()
                + value + b"\r\n")
        body = b"".join(parts) + f"--{boundary}--\r\n".encode()
        return self.call("POST", "/products/ingest", token, body=body,
                         content_type=f"multipart/form-data; boundary={boundary}")

    def search(self, token, q, offset, limit):
        params = {"s": offset, "l": limit}
        if q:
            params["q"] = q
        return self.call("GET", "/products/list", token, query=urlencode(params))


class Workload:
    """Subclasses fill ``setup``, ``loop``, ``check`` and the metric hooks."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.failures: list[str] = []
        self.attempted = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def loop(self, deadline: float) -> None:
        """Closed loop: the next operation starts when the last one returns."""
        i, last = 1, 0.0
        while before(deadline, last):
            t0 = time.perf_counter()
            self.one_op(i)
            last = time.perf_counter() - t0
            i += 1

    def timed(self) -> list[dict]:
        return [r for r in self.records if r["timed"]]

    def close(self) -> None:
        """Stop what the workload started (streams); the session is the
        runner's."""

    def seed_upload(self, table, up: gen.Upload) -> dict:
        """Ingest ``up`` directly (no web layer); return its record."""
        from client_data_ingester_spark.ingestion import ParserConfig, ingest_data

        config = ParserConfig("csv", {k: tuple(v) for k, v in gen.MAPPING.items()})
        w0 = utcnow()
        rep = ingest_data(self.ctx.spark, table, up.body, config, up.cid)
        payload = {"success": rep.success, "message": rep.message,
                   "processed_items": rep.processed_items, "stats": rep.stats}
        return {"req": f"seed{up.cid}", "up": up, "status": 200, "payload": payload,
                "window": (w0, utcnow()), "timed": False}

    def traced(self, req: str):
        """Root span of one operation when tracing, else a no-op context."""
        if self.ctx.tracer is None:
            return contextlib.nullcontext()
        return self.ctx.tracer.request(req)

    def span(self, name: str):
        if self.ctx.tracer is None:
            return contextlib.nullcontext()
        return self.ctx.tracer.span(name)


# ---- tenant workloads -----------------------------------------------------


class _TenantWorkload(Workload):
    sizes: dict = {}

    def build_tables(self):
        from client_data_ingester_spark.schemas import (
            CLIENT_PRODUCTS_SCHEMA, CLIENTS_SCHEMA, USERS_SCHEMA)
        from client_data_ingester_spark.tables import SnapshotTable
        from client_data_ingester_spark.web import SparkIngesterApp

        ctx, spark = self.ctx, self.ctx.spark
        lo, hi = self.sizes["catalog_rows"]
        self.tenants = gen.make_tenants(self.rng, self.sizes["tenants"], lo, hi)
        self.table = SnapshotTable(os.path.join(ctx.run_dir, "products"), CLIENT_PRODUCTS_SCHEMA)
        users = SnapshotTable(os.path.join(ctx.run_dir, "users"), USERS_SCHEMA)
        clients = SnapshotTable(os.path.join(ctx.run_dir, "clients"), CLIENTS_SCHEMA,
                                partition_col="id")
        clients.overwrite_all(spark.createDataFrame(
            [(t.cid, f"Company {t.cid}", gen.SEED_TS, "1 Bench Street", True)
             for t in self.tenants], CLIENTS_SCHEMA))
        users.overwrite_all(spark.createDataFrame(
            [(t.cid, t.cid, f"user{t.cid}@bench.example", f"User {t.cid}", gen.SEED_TS,
              "unused", True, t.token, None) for t in self.tenants], USERS_SCHEMA))
        self.records = []
        for t in self.tenants:  # each tenant's catalog is its first upload
            self.records.append(self.seed_upload(
                self.table, gen.catalog_upload(t.cid, t.rows, self.rng)))
        self.app = SparkIngesterApp(spark, self.table, users, clients)
        self.client = Client(self.app)
        self.token = {t.cid: t.token for t in self.tenants}

    def install_tracing(self):
        """Wrap the program's public functions at their import sites."""
        tr = self.ctx.tracer
        if tr is None:
            return
        from client_data_ingester_spark import web
        from client_data_ingester_spark.ingestion import service

        get_parser = service.get_parser
        service.get_parser = lambda pid: tr.wrap("ingestion.parse", get_parser(pid))
        web.ingest_data = tr.wrap("ingestion", web.ingest_data)
        plan = web.list_products

        def list_products(*a, **kw):
            with tr.span("queries.plan"):
                df = plan(*a, **kw)
            df.collect = tr.wrap("queries.exec", df.collect)
            return df

        web.list_products = list_products
        for m in ("current_doc", "read", "reserve_id_block", "overwrite_partitions"):
            setattr(self.table, m, tr.wrap(f"tables.{m}", getattr(self.table, m)))
        self.client.app = tr.wrap("web", self.app)

    def check_readback(self, mdl, cid, q, offset, limit, status, payload):
        if status != 200:
            return f"status {status}: {payload}"
        return ref.check_page(mdl.page(cid, q), q, offset, limit, payload)

    def probe(self):
        t = self.tenants[0]
        q = gen.sku_of(t.cid, 0)
        return lambda: self.client.search(self.token[t.cid], q, 0, 5)


WARM_UPLOADS = 3


class TenantIngest(_TenantWorkload):
    name = "tenant_ingest"
    sizes = gen.INGEST

    def setup(self):
        with self.ctx.phase("seed"):
            self.build_tables()
            self.install_tracing()
        self.keys = gen.KeySpace({t.cid: t.rows for t in self.tenants})
        self.mix = gen.Mix()
        with self.ctx.phase("warmup"):
            # uploads and their read-backs through the web layer, untimed,
            # until the first timed upload no longer runs cold code
            for i in range(-WARM_UPLOADS + 1, 1):
                self.one_op(i, timed=False)

    def one_op(self, i, timed=True):
        req = f"u{i}"
        t = gen.pick_tenant(self.mix.tenant.draw(), self.tenants)
        up = gen.make_upload(self.rng, self.mix, t.cid, self.keys, self.sizes)
        tok = self.token[t.cid]
        w0, t0 = utcnow(), time.perf_counter()
        with self.traced(req):
            status, payload = self.client.ingest(tok, up, f"b{req}")
        t1, w1 = time.perf_counter(), utcnow()
        rec = {"req": req, "up": up, "status": status, "payload": payload,
               "wall": t1 - t0, "window": (w0, w1), "timed": timed}
        if up.readback_q:
            t2 = time.perf_counter()
            with self.traced(req + "r"):
                rec["rb"] = self.client.search(tok, up.readback_q, 0, up.readback_limit)
            rec["rb_wall"] = time.perf_counter() - t2
        self.records.append(rec)

    def check(self):
        mdl = ref.Model()
        windows = []
        for rec in self.records:
            up = rec["up"]
            exp = mdl.apply(up.cid, up.header, up.rows, up.full_update, op=len(windows))
            windows.append(rec["window"])
            self.attempted += 1
            err = (f"status {rec['status']}" if rec["status"] != 200
                   else ref.check_report(exp, rec["payload"]))
            if err:
                self.fail(f"{rec['req']} upload: {err}")
            if "rb" in rec:
                self.attempted += 1
                err = self.check_readback(mdl, up.cid, up.readback_q, 0,
                                          up.readback_limit, *rec["rb"])
                if err:
                    self.fail(f"{rec['req']} read-back: {err}")
        got = [r.asDict() for r in self.table.read(self.ctx.spark).collect()]
        self.attempted += 1
        for err in ref.check_table(mdl, got, windows)[:5]:
            self.fail(f"final table: {err}")
        self.live_csv = ref.csv_bytes(got)
        self.table_bytes = dir_bytes(self.table.root)

    def detail(self, loop_s):
        recs = self.timed()
        ing = [r["wall"] for r in recs]
        rb = [r["rb_wall"] for r in recs if "rb_wall" in r]
        rows = sum(len(r["up"].rows) for r in recs if not r["up"].invalid)
        t = tail(ing)
        return {
            "ingest_p50_s": metric(median(ing), "s", n=len(ing)),
            "ingest_tail_s": metric(t.pop("value"), "s", **t),
            "ingest_rows_per_s": metric(rows / loop_s, "1/s"),
            "readback_p50_s": metric(median(rb), "s", n=len(rb)),
            "space_amp": metric(self.table_bytes / max(self.live_csv, 1), "ratio"),
        }

    def contract(self, loop_s):
        recs = self.timed()
        return {"op_ms": median(r["wall"] for r in recs) * 1000,
                "ops_per_s": len(recs) / loop_s}

    def layers(self, ev):
        out = tenant_layers(self.ctx, self.timed(), ev)
        uploaded = sum(len(r["up"].body) for r in self.timed())
        out["tables.write_amp"] = out["tables.bytes_written"] / max(uploaded, 1)
        out["ingestion.conflict_rounds"] = sum(
            (r["payload"].get("stats") or {}).get("merge_conflict_rounds", 0)
            for r in self.timed())
        return out


class TenantSearch(_TenantWorkload):
    name = "tenant_search"
    sizes = gen.SEARCH

    def setup(self):
        with self.ctx.phase("seed"):
            self.build_tables()
            self.install_tracing()
        self.seeds = self.records
        self.records = []
        with self.ctx.phase("warmup"):
            for i in range(-4, 1):
                self.one_op(i, timed=False)

    def one_op(self, i, timed=True):
        req = f"q{i}"
        s = gen.make_search(self.rng, self.tenants)
        t0 = time.perf_counter()
        with self.traced(req):
            res = self.client.search(self.token[s.cid], s.q, s.offset, s.limit)
        self.records.append({"req": req, "s": s, "res": res,
                             "wall": time.perf_counter() - t0, "timed": timed})

    def check(self):
        mdl = ref.Model()
        for op, rec in enumerate(self.seeds):
            up = rec["up"]
            self.attempted += 1
            err = ref.check_report(mdl.apply(up.cid, up.header, up.rows, False, op),
                                   rec["payload"])
            if err:
                self.fail(f"{rec['req']}: {err}")
        for rec in self.records:
            s = rec["s"]
            self.attempted += 1
            err = self.check_readback(mdl, s.cid, s.q, s.offset, s.limit, *rec["res"])
            if err:
                self.fail(f"{rec['req']} search: {err}")

    def detail(self, loop_s):
        w = [r["wall"] for r in self.timed()]
        t = tail(w)
        return {
            "search_p50_s": metric(median(w), "s", n=len(w)),
            "search_tail_s": metric(t.pop("value"), "s", **t),
            "search_per_s": metric(len(w) / loop_s, "1/s"),
        }

    def contract(self, loop_s):
        w = [r["wall"] for r in self.timed()]
        return {"op_ms": median(w) * 1000, "ops_per_s": len(w) / loop_s}

    def layers(self, ev):
        return tenant_layers(self.ctx, self.timed(), ev)


def tenant_layers(ctx, recs, ev) -> dict:
    """Per-layer figures of the web/ingestion/tables/queries path."""
    tr = ctx.tracer
    roots = {r.req: r for r in tr.roots}
    per: dict[str, list] = defaultdict(list)
    sums: Counter = Counter()
    for rec in recs:
        for req, wall in ((rec["req"], rec["wall"]), (rec["req"] + "r", rec.get("rb_wall"))):
            root = roots.get(req)
            if root is None:
                continue
            self_s, dur, py4j = per_op(root)
            sums["web.requests"] += 1
            per["web.self_s"].append(self_s["web"])
            # the layers' self times against the wall the client timed
            per["trace.self_sum_err"].append(abs(sum(self_s.values()) - wall) / wall)
            calls = Counter(sp.name for sp in walk(root))
            if dur["ingestion"]:
                g = ev.get(f"{req}:ingestion", {})
                jobs, tasks = ctx.job_counts(f"{req}:ingestion")
                per["ingestion.parse_s"].append(dur["ingestion.parse"])
                per["ingestion.self_s"].append(self_s["ingestion"])
                per["ingestion.job_s"].append(g.get("job_wall_s", 0.0))
                per["ingestion.driver_s"].append(dur["ingestion"] - g.get("job_wall_s", 0.0))
                per["ingestion.spark_jobs"].append(jobs)
                per["ingestion.spark_tasks"].append(tasks)
                per["ingestion.py4j_calls"].append(
                    sum(v for k, v in py4j.items()
                        if layer_of(k) in ("ingestion", "tables")))
                sums["ingestion.shuffle_bytes"] += g.get("shuffle_write_bytes", 0)
                sums["tables.bytes_written"] += g.get("output_bytes", 0)
                sums["tables.files_written"] += g.get("output_tasks", 0)
                for m in ("reserve_id_block", "overwrite_partitions"):
                    per[f"tables.{m}_s"].append(dur[f"tables.{m}"])
                sums["tables.overwrite_partitions_calls"] += calls["tables.overwrite_partitions"]
            if calls["tables.current_doc"]:
                per["tables.current_doc_s"].append(dur["tables.current_doc"])
                per["tables.current_doc_calls"].append(calls["tables.current_doc"])
            if calls["tables.read"]:
                per["tables.read_s"].append(dur["tables.read"])
                per["tables.read_calls"].append(calls["tables.read"])
            if calls["queries.plan"]:
                g = ev.get(f"{req}:queries", {})
                jobs, tasks = ctx.job_counts(f"{req}:queries")
                per["queries.plan_s"].append(dur["queries.plan"])
                per["queries.exec_s"].append(dur["queries.exec"])
                per["queries.spark_jobs"].append(jobs)
                per["queries.spark_tasks"].append(tasks)
                per["queries.py4j_calls"].append(py4j["queries.plan"] + py4j["queries.exec"])
                sums["queries.rows_scanned"] += g.get("input_rows", 0)
                res = rec.get("rb") if req.endswith("r") else rec.get("res")
                sums["queries.rows_returned"] += len(res[1]) if res else 0
    self_sum_err = per.pop("trace.self_sum_err", [0.0])
    out = {k: median(v) for k, v in per.items()}
    out.update(sums)
    out["trace.self_sum_err_max"] = max(self_sum_err)
    out["queries.rows_scanned_per_row_returned"] = (
        sums["queries.rows_scanned"] / max(sums["queries.rows_returned"], 1))
    return out


# ---- analytics board ------------------------------------------------------

# One headline entry from each of five operator families (one of them runs
# over the tables layer): a full pass over all 137 entries takes a minute
# even at sf0.01, far more than one run can spend.
BOARD = [
    "q1_pricing_summary", "dedup_minhash_signatures", "sketch_distinct_users",
    "similarity_ivf_topk", "snapshot_change_feed",
]
BOARD_SF = 0.01
_OPS = "client_data_ingester_spark.operators."


def by_entry(recs) -> dict:
    """Walls of the records, grouped by board entry."""
    per = defaultdict(list)
    for r in recs:
        per[r["entry"]].append(r["wall"])
    return per


def family_of(entry_mod, fn) -> str:
    """The operators module an entry's lambda (or the helper it calls)
    refers to most often; "other" when it refers to none."""
    seen = set()

    def refs(code):
        out = []
        for n in code.co_names:
            g = entry_mod.__dict__.get(n)
            if isinstance(g, types.ModuleType) and g.__name__.startswith(_OPS):
                out.append(g.__name__[len(_OPS):])
            elif isinstance(g, types.FunctionType):
                mod = g.__module__ or ""
                if mod.startswith(_OPS):
                    out.append(mod[len(_OPS):])
                elif mod == entry_mod.__name__ and g.__code__ not in seen:
                    seen.add(g.__code__)
                    out += refs(g.__code__)
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                out += refs(c)
        return out

    found = Counter(refs(fn.__code__)).most_common(1)
    return found[0][0] if found else "other"


class AnalyticsBoard(Workload):
    name = "analytics_board"

    def setup(self):
        import __spark_entry__ as entry

        self.entry = entry
        self.sf_dir = self.ctx.testdata(BOARD_SF)
        qs = entry.queries()
        missing = [n for n in BOARD if n not in qs]
        if missing:
            raise KeyError(f"board entries not in queries(): {missing}")
        self.qs = {n: qs[n] for n in BOARD}
        self.family = {n: family_of(entry, fn) for n, fn in self.qs.items()}
        # persisted artifacts (indexes) are built lazily by the entries;
        # time every *_index build function the first pass calls
        self.artifact_s = 0.0
        for name, fn in list(vars(entry).items()):
            if name.startswith("_") and name.endswith("_index") and callable(fn):
                setattr(entry, name, self._timed_artifact(fn))
        tr = self.ctx.tracer
        if tr is not None:
            entry._load_table = tr.wrap("sources.load", entry._load_table)
        self.records = []
        self.results = {}
        with self.ctx.phase("warmup"):
            for n in BOARD:
                self.warm(n)
        self.ctx.phases["artifacts"] = self.artifact_s
        self.ctx.phases["warmup"] -= self.artifact_s

    def _timed_artifact(self, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.artifact_s += time.perf_counter() - t0
        return timed

    def warm(self, name):
        """An entry's first, untimed run: its rows are kept for the check."""
        t0 = time.perf_counter()
        with self.traced(f"warm-{name}"):
            df = self.qs[name](self.ctx.spark, self.sf_dir)
            rows = list(df.toPandas().itertuples(index=False, name=None))
        self.results[name] = ([c.lower() for c in df.columns], rows)
        self.records.append({"req": f"warm-{name}", "entry": name,
                             "wall": time.perf_counter() - t0, "timed": False})

    def one_op(self, name, req, timed=True):
        t0 = time.perf_counter()
        with self.traced(req):
            with self.span("operators.build"):
                df = self.qs[name](self.ctx.spark, self.sf_dir)
            with self.span("operators.exec"):
                df.write.format("noop").mode("overwrite").save()
        self.records.append({"req": req, "entry": name,
                             "wall": time.perf_counter() - t0, "timed": timed})

    def loop(self, deadline):
        i = 0
        while True:
            order = list(BOARD)
            self.rng.shuffle(order)
            for n in order:
                self.one_op(n, f"e{i}")
                i += 1
                if i > len(BOARD) and time.perf_counter() >= deadline:
                    return
            if time.perf_counter() >= deadline:
                return

    def check(self):
        """Each entry's rows from its warm-up run against its DuckDB twin."""
        import duckdb
        import check_correctness as cc

        con = duckdb.connect()
        for t in cc.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet/*.parquet'")
        os.environ["SPARK_GRAFT_ORACLE_N"] = str(
            con.sql("SELECT COUNT(*) FROM embeddings").fetchone()[0])
        oracles = self.entry.oracle_sql()
        ran = Counter(r["entry"] for r in self.records)
        for name in BOARD:
            self.attempted += ran[name]
            err = self._compare(cc, con, name, oracles.get(name))
            if err:
                self.failures += [f"{name}: {err}"] * ran[name]

    def _compare(self, cc, con, name, sql):
        if sql is None:
            return "no oracle_sql() twin"
        scols, srows = self.results[name]
        rel = con.sql(sql)
        ocols = [c.lower() for c in rel.columns]
        orows = list(rel.df().itertuples(index=False, name=None))
        if len(srows) != len(orows):
            return f"rowcount spark={len(srows)} oracle={len(orows)}"
        if sorted(scols) != sorted(ocols):
            return f"columns spark={scols} oracle={ocols}"
        sm = cc.row_multiset(srows, scols)
        if sm != cc.row_multiset(orows, ocols) and sm != cc.row_multiset(
                con.sql(sql).fetchall(), ocols):
            return "value mismatch"
        return None

    def entry_medians(self):
        return {n: median(v) for n, v in by_entry(self.timed()).items()}

    def detail(self, loop_s):
        med = self.entry_medians()
        return {
            "board_total_s": metric(sum(med.values()), "s", entries=len(med)),
            "board_geomean_s": metric(geomean(med.values()), "s"),
            "board_entry_median_s": med,
            "board_entry_family": self.family,
        }

    def contract(self, loop_s):
        recs = self.timed()
        return {"op_ms": kind_median(by_entry(recs)) * 1000, "ops_per_s": len(recs) / loop_s}

    def layers(self, ev):
        roots = {r.req: r for r in self.ctx.tracer.roots}
        per: dict[tuple, list] = defaultdict(list)
        for rec in self.timed():
            root = roots[rec["req"]]
            _self, dur, py4j = per_op(root)
            calls = Counter(sp.name for sp in walk(root))
            g = ev.get(f"{rec['req']}:operators", {})
            jobs, tasks = self.ctx.job_counts(f"{rec['req']}:operators")
            vals = {
                "build_s": dur["operators.build"], "exec_s": dur["operators.exec"],
                "py4j_calls": sum(v for k, v in py4j.items() if k != "op"),
                "spark_jobs": jobs, "spark_tasks": tasks,
                "executor_run_s": g.get("executor_run_s", 0),
                "executor_cpu_s": g.get("executor_cpu_s", 0), "gc_s": g.get("gc_s", 0),
                "shuffle_read_bytes": g.get("shuffle_read_bytes", 0),
                "shuffle_write_bytes": g.get("shuffle_write_bytes", 0),
                "spill_bytes": g.get("spill_bytes", 0), "input_rows": g.get("input_rows", 0),
                "load_s": dur["sources.load"], "load_calls": calls["sources.load"],
            }
            for k, v in vals.items():
                per[(rec["entry"], k)].append(v)
        # one pass: each entry's median, summed over entries (and families)
        out: Counter = Counter()
        for (name, k), v in per.items():
            m = median(v)
            layer = "sources" if k.startswith("load") else "operators"
            out[f"{layer}.{k}"] += m
            fam = self.family[name]
            if k in ("build_s", "exec_s", "spark_tasks") and fam in FAMILIES:
                out[f"operators.{fam}.{k}"] += m
        return dict(out)

    def probe(self):
        return lambda: self.one_op(BOARD[0], "probe", timed=False)


# ---- landing stream -------------------------------------------------------


class LandingStream(Workload):
    name = "landing_stream"
    CID = 1

    def setup(self):
        from client_data_ingester_spark.schemas import CLIENT_PRODUCTS_SCHEMA
        from client_data_ingester_spark.streaming.dedup_stream import (
            start_dedup_stream_to_parquet)
        from client_data_ingester_spark.streaming.sketch_stream import (
            start_hll_register_stream)
        from client_data_ingester_spark.tables import SnapshotTable

        ctx, spark = self.ctx, self.ctx.spark
        d = lambda *p: os.path.join(ctx.run_dir, *p)  # noqa: E731
        self.d = d
        for p in ("land_products", "land_docs", "land_events", "staging"):
            os.makedirs(d(p))
        with ctx.phase("seed"):
            self.table = SnapshotTable(d("products"), CLIENT_PRODUCTS_SCHEMA)
            self.dedup = start_dedup_stream_to_parquet(
                spark, d("land_docs"), d("ck_docs"), d("out_docs"))
            self.hll = start_hll_register_stream(
                spark, d("land_events"), d("ck_events"), d("registers"))
        self.state = gen.StreamState(
            gen.KeySpace({self.CID: gen.STREAM["catalog_rows"]}), gen.Mix())
        self.records = []
        self.progress = {s: [] for s in STREAMS}
        with ctx.phase("warmup"):
            # the tenant's catalog lands as the first products file
            catalog = gen.catalog_upload(self.CID, gen.STREAM["catalog_rows"], self.rng)
            self.one_op(0, timed=False, products=catalog)

    def _land(self, sub: str, name: str, body: bytes) -> None:
        tmp = self.d("staging", name)
        with open(tmp, "wb") as fh:
            fh.write(body)
        os.replace(tmp, self.d(sub, name))  # atomic: the source sees whole files

    def one_op(self, step, timed=True, products=None):
        from client_data_ingester_spark.ingestion import ParserConfig
        from client_data_ingester_spark.streaming import start_ingest_stream

        st = gen.make_stream_step(self.rng, step, self.CID, self.state)
        if products is not None:
            st.products = products
        w0, t0, e0 = utcnow(), time.perf_counter(), time.time()
        with self.traced(f"s{step}"):
            self._land("land_products", f"p{step:05d}.csv", st.products.body)
            self._land("land_docs", f"d{step:05d}.json", st.docs_body())
            self._land("land_events", f"e{step:05d}.json", st.events_body())
            q = start_ingest_stream(
                self.ctx.spark, self.table, self.d("land_products"), self.d("ck_products"),
                ParserConfig("csv", {k: tuple(v) for k, v in gen.MAPPING.items()}),
                self.CID, st.products.header)
            q.awaitTermination()
            t_ingest, w1 = time.perf_counter(), utcnow()
            self.dedup.processAllAvailable()
            self.hll.processAllAvailable()
        t1 = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {q.exception()}")
        lat = {"ingest": t_ingest - t0}
        for s, qq in (("dedup", self.dedup), ("hll", self.hll)):
            ends = [_progress_end(p) for p in qq.recentProgress
                    if p.get("numInputRows", 0) > 0 and _progress_end(p) >= e0]
            lat[s] = (max(ends) - e0) if ends else t1 - t0
        rows = len(st.products.rows) + len(st.docs) + len(st.events)
        self.records.append({"step": step, "st": st, "wall": t1 - t0, "lat": lat,
                             "rows": rows, "window": (w0, w1), "timed": timed})
        if timed:
            self.progress["ingest"] += [
                p for p in q.recentProgress if p.get("numInputRows", 0) > 0]

    def close(self):
        for s, q in (("dedup", self.dedup), ("hll", self.hll)):
            if q.isActive:
                self.progress[s] = [
                    p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
                q.stop()

    def check(self):
        from client_data_ingester_spark.streaming.sketch_stream import read_hll_estimate

        spark = self.ctx.spark
        self.close()
        mdl = ref.Model()
        windows = []
        first_seen: dict[str, tuple[int, set]] = {}
        users = set()
        for rec in self.records:
            st = rec["st"]
            mdl.apply(self.CID, st.products.header, st.products.rows, False, op=len(windows))
            windows.append(rec["window"])
            for doc in st.docs:
                step_ids = first_seen.setdefault(doc["text"], (rec["step"], set()))
                if step_ids[0] == rec["step"]:
                    step_ids[1].add(doc["doc_id"])
            users.update(e["user_id"] for e in st.events)
        self.attempted += 3
        got = [r.asDict() for r in self.table.read(spark).collect()]
        for err in ref.check_table(mdl, got, windows)[:5]:
            self.fail(f"ingest stream table: {err}")
        out = spark.read.parquet(self.d("out_docs")).select("doc_id", "text").collect()
        texts = Counter(r["text"] for r in out)
        if set(texts) != set(first_seen) or max(texts.values(), default=1) != 1:
            self.fail(f"dedup: {len(texts)} texts out, {len(first_seen)} distinct landed")
        elif any(r["doc_id"] not in first_seen[r["text"]][1] for r in out):
            self.fail("dedup: a kept document is not a first-seen copy")
        est = read_hll_estimate(spark, self.d("registers")).collect()[0]["est_distinct"]
        # p=6: 64 registers, 1.04/sqrt(64) = 13% standard error; allow 3 of them
        if abs(est - len(users)) > 3 * 0.13 * len(users):
            self.fail(f"hll: estimate {est} vs exact {len(users)}")

    def detail(self, loop_s):
        recs = self.timed()
        lat = [r["lat"][s] for r in recs for s in STREAMS]
        t = tail(lat)
        return {
            "batch_p50_s": metric(median(lat), "s", n=len(lat)),
            "batch_tail_s": metric(t.pop("value"), "s", **t),
            "stream_rows_per_s": metric(sum(r["rows"] for r in recs) / loop_s, "1/s"),
            "batch_p50_by_stream_s": {s: median(r["lat"][s] for r in recs) for s in STREAMS},
        }

    def contract(self, loop_s):
        recs = self.timed()
        return {"op_ms": median(r["wall"] for r in recs) * 1000,
                "ops_per_s": len(recs) / loop_s}

    def layers(self, ev):
        out = {}
        fields = (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                  ("query_planning_s", "queryPlanning"), ("wal_commit_s", "walCommit"))
        for s in STREAMS:
            ps = self.progress[s]
            for name, key in fields:
                out[f"streaming.{s}.{name}"] = median(
                    p["durationMs"].get(key, 0) / 1000 for p in ps)
            out[f"streaming.{s}.input_rows"] = median(p["numInputRows"] for p in ps)
        return out

    def probe(self):
        return lambda: self.table.read(self.ctx.spark, self.CID).count()


def _progress_end(p: dict) -> float:
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000


class BoardStream(Workload):
    """The analytics board and the streaming twins in one loop: each step
    lands one file per stream, waits for the three commits, then runs the
    next board entry of a seed-permuted cycle."""

    name = "board_stream"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.board = AnalyticsBoard(ctx)
        self.stream = LandingStream(ctx)
        self.records = []

    def setup(self):
        self.board.setup()
        self.stream.setup()
        with self.ctx.phase("warmup"):
            # after the catalog alone, the first timed landing step still ran
            # up to 1.5x the later ones
            self.stream.one_op(1, timed=False)

    def loop(self, deadline):
        step, last, order = 2, 0.0, []
        while before(deadline, last):
            if not order:
                order = list(BOARD)
                self.rng.shuffle(order)
            t0 = time.perf_counter()
            self.stream.one_op(step)
            entry = order.pop()
            self.board.one_op(entry, f"e{step}")
            last = time.perf_counter() - t0
            self.records.append({"wall": last, "timed": True, "entry": entry,
                                 "stream_s": self.stream.records[-1]["wall"]})
            step += 1

    def check(self):
        for part in (self.board, self.stream):
            part.check()
            self.attempted += part.attempted
            self.failures += part.failures

    def close(self):
        self.stream.close()

    def detail(self, loop_s):
        return {**self.board.detail(loop_s), **self.stream.detail(loop_s)}

    def contract(self, loop_s):
        recs = self.timed()
        return {"op_ms": kind_median(by_entry(recs)) * 1000, "ops_per_s": len(recs) / loop_s}

    def layers(self, ev):
        return {**self.board.layers(ev), **self.stream.layers(ev)}

    def probe(self):
        return self.board.probe()


WORKLOADS = {w.name: w for w in (
    TenantIngest, TenantSearch, AnalyticsBoard, LandingStream, BoardStream)}
