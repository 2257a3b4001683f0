"""Pure-Python reference for the ingest and list semantics.

The rules are the ones ``ingestion/service.py`` pins in its docstring and
``queries/products.py`` implements:

- upsert by (client_id, sku); a matched row takes only the file's non-null
  mapped cells, ``sku`` never changes, ``last_changed_on`` is touched;
- rows repeating a sku fold in file order, column by column, and a null
  never overwrites;
- an empty sku always inserts;
- ``full_update`` deactivates (and touches) every current row of the
  tenant whose sku is not among the file's non-empty skus, and counts them;
- one invalid decimal/boolean cell, or a null sku, rejects the whole file;
- a list page ranks exact sku match first, then sku prefix, then sku
  order, then applies offset and limit.

Ids and timestamps are the program's to choose: the model tracks which
operation last touched a row so the caller can check the timestamp falls
inside that operation's window, and ids must be unique.
"""

from __future__ import annotations

import csv
import io
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation

from gen import MAPPING

DATA_COLS = [
    "remote_id", "brand", "title", "stock_quantity", "active",
    "max_price", "min_price", "reference_price",
]
ALL_COLS = ["id", "client_id", "sku", *DATA_COLS[:3], "last_changed_on",
            *DATA_COLS[3:]]
_TRUE = {"yes", "true", "1"}
_FALSE = {"no", "false", "0"}


class Invalid(ValueError):
    pass


def _text(s: str) -> str:
    return s.strip(" ")


def _integer(s: str) -> int:
    try:
        v = float(s.strip(" "))
    except ValueError:
        return 0
    if v != v or abs(v) >= 2**31:
        return 0
    return int(v)


def _decimal(s: str) -> Decimal:
    cleaned = re.sub(r"[$£,]", "", s.strip(" "))
    try:
        d = Decimal(cleaned)
    except InvalidOperation:
        raise Invalid(s) from None
    if not d.is_finite():
        raise Invalid(s)
    d = d.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    if abs(d) >= 10**10:  # overflows decimal(12,2)
        raise Invalid(s)
    return d


def _boolean(s: str) -> bool:
    n = s.strip(" ").lower()
    if n in _TRUE:
        return True
    if n in _FALSE:
        return False
    raise Invalid(s)


TRANSFORM = {"text": _text, "integer": _integer, "decimal": _decimal,
             "boolean": _boolean}


class Tenant:
    """One tenant's rows: keyed by non-empty sku, plus the empty-sku rows."""

    def __init__(self):
        self.keyed: dict[str, dict] = {}
        self.empties: list[dict] = []

    def rows(self) -> list[dict]:
        return [*self.keyed.values(), *self.empties]


class Model:
    def __init__(self):
        self.tenants: dict[int, Tenant] = {}

    def tenant(self, cid: int) -> Tenant:
        return self.tenants.setdefault(cid, Tenant())

    def apply(
        self, cid: int, header: list[str], rows: list[list],
        full_update: bool, op: int,
    ) -> dict:
        """Apply one file; return the report the program must give."""
        kind = "full update" if full_update else "data"
        mapped = [(i, c, *MAPPING[c]) for i, c in enumerate(header) if c in MAPPING]
        processed = [r for r in rows if any(r[i] is not None for i, *_ in mapped)]
        # mapping order decides which column an error names (first with a bad cell)
        bad: Counter = Counter()
        typed_rows = []
        for r in processed:
            typed = {}
            for i, _c, dst, tid in mapped:
                v = r[i]
                if v is None:
                    typed[dst] = None
                    continue
                try:
                    typed[dst] = TRANSFORM[tid](v)
                except Invalid:
                    bad[dst] += 1
                    typed[dst] = None
            typed_rows.append(typed)
        for _c, (dst, _tid) in MAPPING.items():
            if bad[dst] and any(d == dst for _i, _x, d, _t in mapped):
                return _fail(kind, f"{bad[dst]} invalid value(s) in column {dst!r}")
        sku_mapped = any(d == "sku" for _i, _c, d, _t in mapped)
        if processed and (not sku_mapped or any(t["sku"] is None for t in typed_rows)):
            return _fail(kind, 'null value in column "sku" violates not-null constraint')
        if not processed and not full_update:
            return {"success": True, "message": "Success", "processed_items": 0,
                    "stats": {"processed_count": 0}}
        targets = list(dict.fromkeys(d for _i, _c, d, _t in mapped))
        folded: dict[str, dict] = {}
        empties = []
        for typed in typed_rows:
            if typed["sku"]:
                acc = folded.setdefault(typed["sku"], {})
                for k, v in typed.items():
                    if v is not None:
                        acc[k] = v
            else:
                empties.append(typed)
        t = self.tenant(cid)
        stats = {"processed_count": len(processed)}
        if full_update:
            absent = [r for r in t.rows() if r["sku"] not in folded]
            for r in absent:
                r["active"] = False
                r["touched"] = op
            stats["deactivated_count"] = len(absent)
            stats["total_ingested_skus"] = len(folded)
        for sku, vals in folded.items():
            row = t.keyed.get(sku)
            if row is None:
                row = t.keyed[sku] = _new_row(cid, sku)
                row["active"] = True
                for c in targets:
                    if c != "sku":
                        row[c] = vals.get(c)
                if row["active"] is None:
                    row["active"] = True
            else:
                for c in targets:
                    if c != "sku" and vals.get(c) is not None:
                        row[c] = vals[c]
            row["touched"] = op
        for typed in empties:
            row = _new_row(cid, "")
            for c in targets:
                if c != "sku":
                    row[c] = typed.get(c)
            if row["active"] is None:
                row["active"] = True
            row["touched"] = op
            t.empties.append(row)
        if full_update:
            msg = (f"Full update completed. {len(processed)} products processed, "
                   f"{stats['deactivated_count']} products deactivated.")
        else:
            msg = "Success"
        return {"success": True, "message": msg, "processed_items": len(processed),
                "stats": stats}

    def page(self, cid: int, q: str | None) -> list[dict]:
        """The full ranked result (before offset/limit); see :func:`check_page`."""
        rows = self.tenant(cid).rows()
        if q:
            ql = q.lower()
            rows = [r for r in rows if any(
                r[c] is not None and ql in r[c].lower()
                for c in ("title", "remote_id", "sku"))]
        return sorted(rows, key=lambda r: rank_key(r, q))


def rank_key(r: dict, q: str | None) -> tuple:
    s = r["sku"]
    if not q:
        return (0, 0, s.encode())
    ql = q.lower()
    return (s.lower() != ql, not s.lower().startswith(ql), s.encode())


def _new_row(cid: int, sku: str) -> dict:
    d = {c: None for c in ALL_COLS}
    d.update(client_id=cid, sku=sku)
    return d


def _fail(kind: str, why: str) -> dict:
    return {"success": False, "message": f"Error processing {kind}: {why}",
            "processed_items": 0, "stats": {}}


# ---- comparisons ---------------------------------------------------------

PAGE_FIELDS = ["client_id", "sku", "remote_id", "brand", "title",
               "stock_quantity", "active", "max_price", "min_price",
               "reference_price"]


def _out_value(c: str, v):
    """The JSON rendering ``web._product_out`` gives a model value."""
    if v is not None and c in ("max_price", "min_price", "reference_price"):
        return float(v)
    return v


def page_key(row: dict) -> tuple:
    return tuple(_out_value(c, row.get(c)) for c in PAGE_FIELDS)


def check_report(expected: dict, got: dict) -> str | None:
    for k in ("success", "message", "processed_items"):
        if expected[k] != got.get(k):
            return f"{k}: expected {expected[k]!r}, got {got.get(k)!r}"
    stats = got.get("stats") or {}
    for k, v in expected["stats"].items():
        if stats.get(k) != v:
            return f"stats[{k}]: expected {v!r}, got {stats.get(k)!r}"
    return None


def check_page(ranked: list[dict], q, offset: int, limit: int, got: list[dict]) -> str | None:
    """``got`` must be ranked[offset:offset+limit] up to the order of rows
    that tie on the rank key (only empty-sku rows can tie)."""
    want = ranked[offset: offset + limit]
    if len(want) != len(got):
        return f"page length: expected {len(want)}, got {len(got)}"
    if [rank_key(r, q) for r in want] != [rank_key(r, q) for r in got]:
        return "rank order differs"
    ties: dict[tuple, Counter] = {}
    for r in ranked:
        ties.setdefault(rank_key(r, q), Counter())[page_key(r)] += 1
    seen: dict[tuple, Counter] = {}
    for r in got:
        k = rank_key(r, q)
        seen.setdefault(k, Counter())[page_key(r)] += 1
        if seen[k][page_key(r)] > ties[k][page_key(r)]:
            return f"row not in the reference: {page_key(r)}"
    return None


def csv_bytes(rows: list[dict]) -> int:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    for r in rows:
        w.writerow(["" if r.get(c) is None else r[c] for c in ALL_COLS])
    return len(buf.getvalue().encode())


def check_table(model: Model, got_rows: list[dict], windows: list[tuple]) -> list[str]:
    """Compare the final table with the model. ``windows[op]`` is the
    (start, end) wall window of operation ``op``, naive UTC."""
    errors = []
    ids = Counter(r["id"] for r in got_rows)
    dup = [i for i, n in ids.items() if n > 1]
    if dup:
        errors.append(f"{len(dup)} duplicate ids, e.g. {dup[:3]}")
    by_cid: dict[int, list[dict]] = {}
    for r in got_rows:
        by_cid.setdefault(r["client_id"], []).append(r)
    for cid in sorted(set(by_cid) | set(model.tenants)):
        t = model.tenant(cid)
        got = by_cid.get(cid, [])
        got_keyed = {r["sku"]: r for r in got if r["sku"]}
        if len(got_keyed) != sum(1 for r in got if r["sku"]):
            errors.append(f"tenant {cid}: duplicate skus")
        if set(got_keyed) != set(t.keyed):
            errors.append(
                f"tenant {cid}: {len(set(t.keyed) - set(got_keyed))} missing, "
                f"{len(set(got_keyed) - set(t.keyed))} extra skus")
            continue
        for sku, want in t.keyed.items():
            err = _row_diff(want, got_keyed[sku], windows)
            if err:
                errors.append(f"tenant {cid} sku {sku}: {err}")
                break
        want_e = Counter(page_key(r) for r in t.empties)
        got_e = Counter(page_key(r) for r in got if not r["sku"])
        if want_e != got_e:
            errors.append(f"tenant {cid}: empty-sku rows differ")
    return errors


def _row_diff(want: dict, got: dict, windows: list[tuple]) -> str | None:
    for c in PAGE_FIELDS:
        if want[c] != got[c]:
            return f"{c}: expected {want[c]!r}, got {got[c]!r}"
    lco = got["last_changed_on"]
    lo, hi = windows[want["touched"]]
    if not (lo.replace(microsecond=0) <= lco <= hi):
        return f"last_changed_on {lco} outside its write window {lo}..{hi}"
    return None
