"""Seeded inputs for every workload.

Everything the program receives is made here from ``random.Random(seed)``:
the same seed gives byte-identical inputs, another seed gives other inputs
drawn from the same size distributions. Nothing here imports Spark.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import math
import random
from dataclasses import dataclass, field

# the upload mapping every tenant uses: file column -> (target, transformer)
MAPPING = {
    "sku": ["sku", "text"],
    "title": ["title", "text"],
    "brand": ["brand", "text"],
    "qty": ["stock_quantity", "integer"],
    "price": ["max_price", "decimal"],
    "active": ["active", "boolean"],
}
OPTIONAL_COLS = ["title", "brand", "qty", "price", "active"]
WORDS = (
    "red blue green black white steel oak linen cotton glass copper amber "
    "widget gadget bolt gear lamp chair table shelf cable hinge valve pump "
    "brush kettle mirror drill saw ruler clamp"
).split()
BRANDS = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay", "Wonka"]
SEED_TS = dt.datetime(2024, 1, 1)  # users/clients sign-up time
STREAM_BASE_TS = dt.datetime(2024, 6, 1)

# Workload sizes. They are scaled so one run of the benchmark (Spark start,
# seeding and a timed loop) takes about a minute; the shapes (Zipf tenants,
# log-skewed file sizes, the row mix) are what matter.
INGEST = {
    "tenants": 4,
    "catalog_rows": (100, 5_000),
    "file_rows": (20, 20_000),
    "file_median_rows": 200,
    "update_frac": 0.70,
    "repeat_frac": 0.10,
    "empty_sku_frac": 0.02,
    "truncate_frac": 0.15,
    "full_update_frac": 0.15,
    "invalid_frac": 0.03,
}
SEARCH = {
    "tenants": 12,
    "catalog_rows": (10, 10_000),
    "substring_frac": 0.40,
    "exact_frac": 0.20,
    "miss_frac": 0.10,
    "deep_offset_frac": 0.20,
}
STREAM = {
    "catalog_rows": 2_000,
    "file_rows": (100, 10_000),
    "dup_frac": 0.25,
    "users": 20_000,
}


def sku_of(cid: int, k: int) -> str:
    return f"C{cid:03d}-{k:07d}"


def zipf_sizes(n: int, lo: int, hi: int) -> list[int]:
    """``n`` catalog sizes falling as 1/rank^s from ``hi`` to ``lo``."""
    s = math.log(hi / lo) / math.log(n) if n > 1 else 0.0
    return [max(lo, round(hi / (r + 1) ** s)) for r in range(n)]


def skewed_size(u: float, lo: int, hi: int, median: int) -> int:
    """Log-scale size in [lo, hi] whose median is ``median``, at quantile ``u``."""
    k = math.log(math.log(median / lo) / math.log(hi / lo)) / math.log(0.5)
    return int(round(lo * (hi / lo) ** (u ** k)))


def log_uniform(u: float, lo: int, hi: int) -> int:
    return int(round(lo * (hi / lo) ** u))


class Halton:
    """Low-discrepancy draws in [0, 1): the radical inverse of 1, 2, 3, ...
    in ``base``. Each draw is uniform, and any prefix covers [0, 1) evenly,
    so a run of a few operations still sees the whole distribution. Give
    each quantity its own prime base."""

    def __init__(self, base: int):
        self.base, self.i = base, 0

    def draw(self) -> float:
        self.i += 1
        f, x, n = 1.0, 0.0, self.i
        while n:
            f /= self.base
            x += f * (n % self.base)
            n //= self.base
        return x


class Mix:
    """The draws that set an operation's cost: its size, kind and tenant.

    They are the same sequence in every run, whatever the seed, so the
    n-th operation of one run costs what the n-th of another does; the seed
    sets everything else (which client ids get which catalog size, the skus,
    the cell values, the columns, the order of the board entries). Run-level
    figures then differ between seeds by the machine's noise, not by which
    sizes a short loop happened to draw."""

    def __init__(self):
        self.size = Halton(2)
        self.full = Halton(3)
        self.invalid = Halton(5)
        self.tenant = Halton(7)


@dataclass
class Tenant:
    cid: int
    rows: int
    weight: float  # popularity: the largest catalogs are the hottest
    token: str


def make_tenants(rng: random.Random, n: int, lo: int, hi: int) -> list[Tenant]:
    sizes = zipf_sizes(n, lo, hi)
    order = list(range(n))
    rng.shuffle(order)  # which client id gets which size rank
    out = []
    for cid in range(1, n + 1):
        rank = order[cid - 1]
        out.append(
            Tenant(cid, sizes[rank], 1.0 / (rank + 1), f"tok-{rng.getrandbits(64):016x}")
        )
    return out


def pick_tenant(u: float, tenants: list[Tenant]) -> Tenant:
    """The tenant at quantile ``u`` of the popularity weights, hottest
    first, so a given ``u`` picks the same size rank under every seed."""
    ranked = sorted(tenants, key=lambda t: -t.weight)
    total = sum(t.weight for t in ranked)
    acc = 0.0
    for t in ranked:
        acc += t.weight / total
        if u < acc:
            return t
    return ranked[-1]


def _title(rng: random.Random) -> str:
    return " ".join(rng.sample(WORDS, 3))


def catalog_upload(cid: int, n: int, rng: random.Random) -> "Upload":
    """A tenant's first upload: ``n`` new skus, every mapped column set."""
    header = ["sku", *OPTIONAL_COLS]
    rows = [[sku_of(cid, k), *(_cell(rng, c) for c in OPTIONAL_COLS)] for k in range(n)]
    return Upload(cid, header, rows, full_update=False, invalid=False)


def _cell(rng: random.Random, col: str) -> str:
    if col == "title":
        t = _title(rng)
        return f" {t} " if rng.random() < 0.1 else t
    if col == "brand":
        return rng.choice(BRANDS)
    if col == "qty":
        n = rng.randrange(0, 500)
        return f"{n}.{rng.randrange(10)}" if rng.random() < 0.1 else str(n)
    if col == "price":
        v = rng.randrange(100, 9_999_999) / 100
        return f"${v:,.2f}" if rng.random() < 0.1 else f"{v:.2f}"
    if col == "active":
        return rng.choice(["yes", "no", "true", "false", "1", "0", "Yes", " TRUE "])
    raise KeyError(col)


def to_csv(header: list[str], rows: list[list]) -> bytes:
    buf = io.StringIO()
    # every cell quoted: Spark's CSV reader (the landing stream) reads an
    # unquoted empty cell as null, and only a quoted "" as the empty sku
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_ALL)
    w.writerow(header)
    for r in rows:
        w.writerow([c for c in r if c is not None])
    return buf.getvalue().encode()


@dataclass
class Upload:
    cid: int
    header: list[str]
    rows: list[list]  # cells as the program parses them; None = missing
    full_update: bool
    invalid: bool
    readback_q: str | None = None
    readback_limit: int = 5

    @property
    def body(self) -> bytes:
        return to_csv(self.header, self.rows)


@dataclass
class KeySpace:
    """Per-tenant sku counters: ``next_k[cid]`` skus exist (seeded or
    inserted by an earlier accepted file)."""

    next_k: dict[int, int] = field(default_factory=dict)


def make_upload(
    rng: random.Random,
    mix: Mix,
    cid: int,
    keys: KeySpace,
    sizes: dict,
    all_cols: bool = False,
) -> Upload:
    lo, hi = sizes["file_rows"]
    if "file_median_rows" in sizes:
        n = skewed_size(mix.size.draw(), lo, hi, sizes["file_median_rows"])
    else:
        n = log_uniform(mix.size.draw(), lo, hi)
    full_update = mix.full.draw() < sizes.get("full_update_frac", 0.0)
    invalid = mix.invalid.draw() < sizes.get("invalid_frac", 0.0)
    if all_cols:
        opt = list(OPTIONAL_COLS)
    else:
        opt = rng.sample(OPTIONAL_COLS, rng.randint(2, len(OPTIONAL_COLS)))
    if invalid and not ({"price", "active"} & set(opt)):
        opt.append(rng.choice(["price", "active"]))
    header = ["sku"] + opt
    existing = keys.next_k[cid]
    new_k = existing
    rows: list[list] = []
    file_skus: list[str] = []
    for _ in range(n):
        u = rng.random()
        if u < sizes.get("empty_sku_frac", 0.0):
            sku = ""
        elif u < sizes.get("empty_sku_frac", 0.0) + sizes["repeat_frac"] and file_skus:
            sku = rng.choice(file_skus)
        elif rng.random() < sizes["update_frac"] and existing:
            sku = sku_of(cid, rng.randrange(existing))
        else:
            sku = sku_of(cid, new_k)
            new_k += 1
        if sku:
            file_skus.append(sku)
        row = [sku] + [_cell(rng, c) for c in opt]
        if rng.random() < sizes.get("truncate_frac", 0.0):
            cut = rng.randint(1, len(header) - 1)
            row = row[:cut] + [None] * (len(header) - cut)
        rows.append(row)
    if not file_skus:  # every file carries at least one keyed row
        sku = sku_of(cid, new_k)
        new_k += 1
        file_skus.append(sku)
        rows.append([sku] + [_cell(rng, c) for c in opt])
    if invalid:
        col = rng.choice([c for c in ("price", "active") if c in opt])
        i = rng.randrange(len(rows))
        j = header.index(col)
        rows[i] = [rows[i][0]] + [_cell(rng, c) for c in opt]
        rows[i][j] = "12.3.4" if col == "price" else "maybe"
    else:
        keys.next_k[cid] = new_k
    up = Upload(cid, header, rows, full_update, invalid)
    if not invalid:
        q = rng.choice(file_skus)
        up.readback_q = q.lower() if rng.random() < 0.3 else q
        up.readback_limit = rng.randint(1, 50)
    return up


@dataclass
class Search:
    cid: int
    q: str | None
    offset: int
    limit: int


def make_search(rng: random.Random, tenants: list[Tenant]) -> Search:
    t = pick_tenant(rng.random(), tenants)
    u = rng.random()
    if u < SEARCH["substring_frac"]:
        w = rng.choice(WORDS)
        a = rng.randrange(len(w) - 2)
        q = w[a : rng.randint(a + 3, len(w))]
    elif u < SEARCH["substring_frac"] + SEARCH["exact_frac"]:
        q = sku_of(t.cid, rng.randrange(t.rows))
    elif u < SEARCH["substring_frac"] + SEARCH["exact_frac"] + SEARCH["miss_frac"]:
        q = f"zq{rng.getrandbits(32):08x}"
    else:
        q = None
    deep = rng.random() < SEARCH["deep_offset_frac"]
    offset = rng.randint(500, 3000) if deep else rng.randint(0, 20)
    return Search(t.cid, q, offset, rng.randint(1, 50))


@dataclass
class StreamStep:
    products: Upload
    docs: list[dict]
    events: list[dict]

    def docs_body(self) -> bytes:
        return "".join(json.dumps(d) + "\n" for d in self.docs).encode()

    def events_body(self) -> bytes:
        return "".join(json.dumps(e) + "\n" for e in self.events).encode()


@dataclass
class StreamState:
    keys: KeySpace
    mix: Mix
    texts: list[str] = field(default_factory=list)
    next_doc: int = 0
    next_event: int = 0


def make_stream_step(
    rng: random.Random, step: int, cid: int, st: StreamState
) -> StreamStep:
    lo, hi = STREAM["file_rows"]
    prod = make_upload(
        rng,
        st.mix,
        cid,
        st.keys,
        {"file_rows": (lo, hi), "update_frac": 0.7, "repeat_frac": 0.1,
         "empty_sku_frac": 0.02, "truncate_frac": 0.15},
        all_cols=True,
    )
    ts = (STREAM_BASE_TS + dt.timedelta(seconds=step)).isoformat()
    docs = []
    for _ in range(log_uniform(st.mix.size.draw(), lo, hi)):
        if st.texts and rng.random() < STREAM["dup_frac"]:
            text = rng.choice(st.texts)
        else:
            text = f"doc {st.next_doc} " + " ".join(rng.choices(WORDS, k=8))
            st.texts.append(text)
        docs.append({"doc_id": st.next_doc, "ts": ts, "text": text})
        st.next_doc += 1
    events = []
    for _ in range(log_uniform(st.mix.size.draw(), lo, hi)):
        user = int(STREAM["users"] * rng.random() ** 2) + 1
        events.append(
            {"event_id": st.next_event, "ts": ts, "user_id": user,
             "event_type": rng.choice(["click", "view", "purchase"])}
        )
        st.next_event += 1
    return StreamStep(prod, docs, events)
