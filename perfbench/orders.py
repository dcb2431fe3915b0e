"""Seeded raw-order feed for the ``order_sync`` workload, and the final
tables the pipeline must converge to, computed in plain Python.

Shapes follow ``tests/fixture_raw_orders.py``: null customer and
shipping structs, empty or absent arrays, unknown keys at every nesting
level, and duplicate ids inside a batch.  On top of that each batch
carries three kinds of rows a real incremental feed delivers:

* re-deliveries: earlier orders sent again with a newer ``updated_at``
  and changed values, so the merge must replace rows in old segments;
* an overlap page: rows of the previous batch sent again unchanged,
  inside the watermark's one-hour overlap;
* a late page: rows older than the watermark minus the overlap, which
  the pipeline must drop.

``Expected`` replays the pipeline's semantics on the same rows: the
watermark filter (``updated_at >= last watermark - 1 h``), keep-first
per key within a batch in ``(updated_at, id)`` order, and latest batch
wins across batches.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

UTC = dt.timezone.utc
BASE = dt.datetime(2024, 3, 1, tzinfo=UTC)
FALLBACK_START = dt.datetime(2024, 1, 1, tzinfo=UTC)
OVERLAP = dt.timedelta(hours=1)
WINDOW = dt.timedelta(days=1)
PAGE_ROWS = 500
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)

# Final-table columns in schema order; timestamp columns compare as
# epoch microseconds.
COLUMNS = {
    "orders": ["order_id", "created_at", "updated_at", "processed_at", "subtotal_price",
               "total_tax", "total_price", "financial_status", "fulfillment_status",
               "currency", "source_name", "customer_id"],
    "line_items": ["order_id", "product_id", "variant_id", "product_name", "price",
                   "quantity", "vendor"],
    "customers": ["customer_id", "email", "created_at", "first_name", "last_name", "phone",
                  "verified_email"],
    "shipping_addresses": ["order_id", "first_name", "last_name", "address1", "city",
                           "province", "country", "zip"],
    "discount_codes": ["order_id", "discount_code", "discount_value"],
    "marketing_consent": ["customer_id", "email_consent", "sms_consent"],
}
KEYS = {
    "orders": ["order_id"],
    "line_items": ["order_id", "product_id", "variant_id"],
    "customers": ["customer_id"],
    "shipping_addresses": ["order_id", "first_name", "last_name"],
    "discount_codes": ["order_id", "discount_code"],
    "marketing_consent": ["customer_id"],
}
TIMESTAMP_COLUMNS = {"created_at", "updated_at", "processed_at"}


def _iso(ts: dt.datetime) -> str:
    return ts.isoformat()


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def micros(s: str | None) -> int | None:
    return None if s is None else (_ts(s) - EPOCH) // dt.timedelta(microseconds=1)


class OrderFeed:
    """Batches of raw orders; batch ``b`` covers one day of ``updated_at``."""

    def __init__(self, seed: int, batch_orders: int):
        self.rng = random.Random(seed)
        self.n = batch_orders
        # Pools scale with the batch so customer sharing stays constant.
        self.customers = [5000 + i for i in range(max(20, batch_orders // 4))]
        self.products = max(50, batch_orders // 10)
        self.next_id = 1000
        self.delivered: dict[int, dict] = {}  # id -> latest delivered copy
        self.prev_tail: list[dict] = []

    def _order(self, oid: int, upd: dt.datetime) -> dict:
        rng = self.rng
        o: dict = {
            "id": oid,
            "created_at": _iso(upd - dt.timedelta(hours=rng.randint(1, 48))),
            "updated_at": _iso(upd),
            "processed_at": _iso(upd - dt.timedelta(minutes=30)),
            "subtotal_price": f"{rng.uniform(10, 500):.2f}",
            "total_price": f"{rng.uniform(10, 600):.2f}",
            "total_tax": f"{rng.uniform(0, 50):.2f}",
            "currency": rng.choice(["USD", "EUR"]),
            "unknown_top_level": {"ignore": "me"},
        }
        if rng.random() < 0.9:
            o["financial_status"] = rng.choice(["paid", "pending", "refunded"])
        if rng.random() < 0.8:
            o["fulfillment_status"] = rng.choice(["fulfilled", None])
        if rng.random() < 0.7:
            o["source_name"] = rng.choice(["web", "pos"])
        if rng.random() < 0.9:
            cid = rng.choice(self.customers)
            o["customer"] = {
                "id": cid,
                "email": f"c{cid}@example.com",
                "created_at": _iso(BASE - dt.timedelta(days=cid % 100)),
                "first_name": f"F{oid % 7}",  # differs per order: keep-first matters
                "last_name": f"L{cid % 11}",
                "phone": None if rng.random() < 0.3 else f"+1-555-{cid}",
                "verified_email": rng.random() < 0.8,
                "accepts_marketing": rng.random() < 0.5,
                "unknown_nested": 42,
            }
        else:
            o["customer"] = None
        if rng.random() < 0.9:
            o["shipping_address"] = {
                "first_name": f"F{oid % 7}",
                "last_name": f"L{oid % 11}",
                "address1": f"{oid} Main St",
                "city": rng.choice(["Berlin", "Paris", "Austin"]),
                "province": rng.choice(["TX", "BE", ""]),
                "country": rng.choice(["US", "DE", "FR"]),
                "zip": f"{10000 + oid % 90000}",
                "unknown_addr_key": "x",
            }
        else:
            o["shipping_address"] = None
        items = []
        if rng.random() >= 0.3:
            for j, pid in enumerate(rng.sample(range(self.products), rng.randint(1, 4))):
                items.append({
                    # Only the first item may lack ids, so (product, variant)
                    # stays unique within an order.
                    "product_id": None if j == 0 and rng.random() < 0.1 else 9000 + pid,
                    "variant_id": None if j == 0 and rng.random() < 0.1 else 80000 + pid * 4 + j,
                    "name": f"Product {pid}",
                    "price": f"{rng.uniform(5, 200):.2f}",
                    "quantity": rng.randint(1, 5),
                    **({"vendor": rng.choice(["acme", "globex"])} if rng.random() < 0.7 else {}),
                })
        o["line_items"] = items
        r = rng.random()
        if r < 0.3:
            pass  # absent key
        elif r < 0.7:
            o["discount_codes"] = []
        else:
            o["discount_codes"] = [
                {"code": code, "amount": f"{rng.uniform(1, 30):.2f}"}
                for code in rng.sample(["SAVE10", "VIP", "SPRING"], rng.randint(1, 2))
            ]
        return o

    def _redelivery(self, old: dict, upd: dt.datetime) -> dict:
        o = json.loads(json.dumps(old))
        o["updated_at"] = _iso(upd)
        o["total_price"] = f"{self.rng.uniform(10, 600):.2f}"
        o["financial_status"] = self.rng.choice(["paid", "refunded"])
        for item in o.get("line_items") or []:
            item["quantity"] = self.rng.randint(1, 9)
        if o.get("shipping_address"):
            o["shipping_address"]["city"] = self.rng.choice(["Lyon", "Dallas"])
        return o

    def batch(self, b: int) -> list[list[dict]]:
        """Pages of batch ``b``; the last page is the late page."""
        rng = self.rng
        start = BASE + b * WINDOW
        span = (WINDOW - 2 * OVERLAP).total_seconds()
        n_redeliver = self.n // 10 if self.delivered else 0
        slots = sorted(rng.uniform(0, span) for _ in range(self.n + n_redeliver))
        old_ids = rng.sample(sorted(self.delivered), n_redeliver)
        fresh, redelivered = [], []
        for k, sec in enumerate(slots):
            upd = start + dt.timedelta(seconds=round(sec, 3))
            if k % 11 == 5 and old_ids:
                redelivered.append(self._redelivery(self.delivered[old_ids.pop()], upd))
            else:
                fresh.append(self._order(self.next_id, upd))
                self.next_id += 1
        redelivered += [self._redelivery(self.delivered[i], start) for i in old_ids]
        rows = fresh + redelivered
        # ~5% duplicate ids sent again later in the batch: keep-first drops them.
        for idx in rng.sample(range(len(rows)), len(rows) // 20):
            dup = json.loads(json.dumps(rows[idx]))
            dup["updated_at"] = _iso(_ts(dup["updated_at"]) + dt.timedelta(minutes=rng.randint(1, 30)))
            dup["total_price"] = "999999.99"
            rows.append(dup)
        rows += self.prev_tail  # overlap page: unchanged copies of the last batch's tail
        rows.sort(key=lambda r: (_ts(r["updated_at"]), r["id"]))
        late_floor = FALLBACK_START if b == 0 else start - WINDOW
        late = []
        for _ in range(max(1, self.n // 30)):
            upd = late_floor - dt.timedelta(minutes=rng.randint(90, 5 * 24 * 60))
            if self.delivered and rng.random() < 0.5:
                late.append(self._redelivery(self.delivered[rng.choice(sorted(self.delivered))], upd))
            else:
                late.append(self._order(self.next_id, upd))
                self.next_id += 1
        for r in fresh + redelivered:
            self.delivered[r["id"]] = r
        cut = _ts(rows[-1]["updated_at"]) - dt.timedelta(minutes=20)
        self.prev_tail = [
            r for r in rows[-40:] if _ts(r["updated_at"]) >= cut and r["total_price"] != "999999.99"
        ]
        pages = [rows[i : i + PAGE_ROWS] for i in range(0, len(rows), PAGE_ROWS)]
        return pages + [late]


def write_batch(pages: list[list[dict]], path: str) -> int:
    """One NDJSON file per page under ``path``; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for i, page in enumerate(pages):
        data = "\n".join(json.dumps(r) for r in page) + "\n"
        with open(os.path.join(path, f"page-{i:05d}.json"), "w") as fh:
            fh.write(data)
        total += len(data.encode())
    return total


def _s(v) -> str:
    return "" if v is None else v


def _f(v) -> float | None:
    return None if v is None else float(v)


def normalize(o: dict) -> dict[str, list[tuple]]:
    """One order's rows per final table, as ``normalize_orders`` maps them."""
    oid = str(o["id"])
    c = o.get("customer")
    out: dict[str, list[tuple]] = {name: [] for name in COLUMNS}
    out["orders"].append((
        oid, micros(o.get("created_at")), micros(o.get("updated_at")), micros(o.get("processed_at")),
        float(o.get("subtotal_price") or 0.0), float(o.get("total_tax") or 0.0),
        float(o.get("total_price") or 0.0), _s(o.get("financial_status")),
        _s(o.get("fulfillment_status")), _s(o.get("currency")), _s(o.get("source_name")),
        str(c["id"]) if c is not None else None,
    ))
    for li in o.get("line_items") or []:
        out["line_items"].append((
            oid,
            "None" if li.get("product_id") is None else str(li["product_id"]),
            "None" if li.get("variant_id") is None else str(li["variant_id"]),
            li.get("name"), _f(li.get("price")), int(li.get("quantity") or 0), _s(li.get("vendor")),
        ))
    if c is not None:
        cid = str(c["id"])
        out["customers"].append((
            cid, _s(c.get("email")), micros(c.get("created_at")), _s(c.get("first_name")),
            _s(c.get("last_name")), c.get("phone"), bool(c.get("verified_email") or False),
        ))
        out["marketing_consent"].append((cid, "yes" if c.get("accepts_marketing") else "no", ""))
    a = o.get("shipping_address")
    if a is not None:
        out["shipping_addresses"].append((
            oid, _s(a.get("first_name")), _s(a.get("last_name")), _s(a.get("address1")),
            _s(a.get("city")), _s(a.get("province")), _s(a.get("country")), _s(a.get("zip")),
        ))
    for d in o.get("discount_codes") or []:
        out["discount_codes"].append((oid, d.get("code"), float(d.get("amount") or 0.0)))
    return out


class Expected:
    """The six final tables and the ledger watermark, replayed in Python."""

    def __init__(self):
        self.tables: dict[str, dict[tuple, tuple]] = {name: {} for name in COLUMNS}
        self.watermark: dt.datetime | None = None

    def apply(self, pages: list[list[dict]]) -> int:
        """Fold one batch in; returns the rows the pipeline should ingest
        (after the watermark filter, before dedup)."""
        start = FALLBACK_START if self.watermark is None else self.watermark - OVERLAP
        rows = [r for page in pages for r in page if _ts(r["updated_at"]) >= start]
        rows.sort(key=lambda r: (_ts(r["updated_at"]), r["id"]))
        firsts: dict[int, dict] = {}
        for r in rows:
            firsts.setdefault(r["id"], r)
        batch: dict[str, dict[tuple, tuple]] = {name: {} for name in COLUMNS}
        for o in firsts.values():  # insertion order == arrival order
            for name, recs in normalize(o).items():
                idx = [COLUMNS[name].index(k) for k in KEYS[name]]
                for rec in recs:
                    batch[name].setdefault(tuple(rec[i] for i in idx), rec)
        for name, recs in batch.items():
            self.tables[name].update(recs)
        if rows:  # an empty batch re-records the prior watermark
            self.watermark = max(_ts(r["updated_at"]) for r in rows)
        return len(rows)

    def rows(self, name: str) -> list[tuple]:
        return sorted(self.tables[name].values(), key=repr)
