"""Seeded order generator: the same seed gives byte-identical queue files.

Every order carries its logical due time in `timestamp`; the run maps
logical time onto the wall clock when it writes the files. An order is
one JSON line; a queue file is a list of lines. Besides new orders a
file holds redeliveries (an earlier line of a recent file, repeated
byte for byte) and invalid orders of four kinds.
"""

import bisect
import datetime
import json
import random
from dataclasses import dataclass, field

BASE_MS = 1767225600000  # 2026-01-01T00:00:00Z, the logical epoch
INVALID_KINDS = ("malformed_json", "no_customer", "empty_items", "zero_quantity")
SIZES = (1, 1, 2, 2, 3, 4)  # lines per order, before a repeated product
N_PRODUCTS = 1000
ZIPF_S = 0.6      # mild key skew over all products
REDELIVER = 0.03  # share of lines that repeat a line of the last 1-3 files
INVALID = 0.01    # share of lines that are new, invalid orders
STOCK = 10**9     # every product's stock, unless it is hot and capped


@dataclass
class Order:
    order_id: str
    file: int
    valid: bool
    lines: list = field(default_factory=list)  # [(product_id, quantity)]


@dataclass
class Workload:
    files: list      # list of lists of JSON lines (str)
    orders: dict     # order_id -> Order, first delivery only
    inventory: dict  # product_id -> stock before the first batch
    interval_ms: int  # logical time between consecutive files


def iso(ms):
    s, milli = divmod(ms, 1000)
    t = datetime.datetime.fromtimestamp(s, tz=datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S") + ".%03dZ" % milli


def product(i):
    return "p-%05d" % i


def _dump(obj):
    return json.dumps(obj, separators=(",", ":"))


def _order_line(oid, customer, items, ts):
    """The compact JSON of a valid order, as _dump would write it."""
    lines = ",".join('{"product_id":"%s","quantity":%d}' % pq for pq in items)
    return '{"order_id":"%s","customer_id":"%s","items":[%s],"timestamp":"%s"}' % (
        oid, customer, lines, ts)


class _Picker:
    """Draws product indexes: a share `hot_share` of draws goes to the
    first `hot` products uniformly, the rest follows a Zipf law with
    exponent ZIPF_S over all products."""

    def __init__(self, rng, hot, hot_share):
        self.rng = rng
        self.n = N_PRODUCTS
        self.hot = hot
        self.hot_share = hot_share
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(N_PRODUCTS)]
        total = 0.0
        self.cum = []
        for w in weights:
            total += w
            self.cum.append(total)
        self.total = total

    def __call__(self):
        r = self.rng.random
        if self.hot and r() < self.hot_share:
            return int(r() * self.hot)
        return min(bisect.bisect_left(self.cum, r() * self.total), self.n - 1)


def generate(seed, n_files, lines_per_file, interval_ms, hot=0, hot_share=0.0,
             hot_stock_frac=None, id_prefix="o"):
    """Builds a workload.

    Every product's stock is STOCK, except that with `hot_stock_frac`
    each hot product gets that share of the demand the valid orders put
    on it, so that stock runs out part way through.
    """
    rng = random.Random(seed)
    pick = _Picker(rng, hot, hot_share)
    files, orders = [], {}
    seq = 0
    for f in range(n_files):
        ts = iso(BASE_MS + f * interval_ms)
        lines = []
        for _ in range(lines_per_file):
            r = rng.random()
            if r < REDELIVER and f > 0:
                back = files[max(0, f - rng.randint(1, 3))]
                lines.append(back[rng.randrange(len(back))])
                continue
            oid = "%s%08d" % (id_prefix, seq)
            seq += 1
            customer = "c-%05d" % int(rng.random() * 20000)
            items = [(product(pick()), 1 + int(rng.random() * 3))
                     for _ in range(SIZES[int(rng.random() * len(SIZES))])]
            if rng.random() < 0.05:
                items.append((items[0][0], 1 + int(rng.random() * 3)))  # repeated product
            if REDELIVER <= r < REDELIVER + INVALID:
                body = {"order_id": oid, "customer_id": customer,
                        "items": [{"product_id": p, "quantity": q} for p, q in items],
                        "timestamp": ts}
                kind = INVALID_KINDS[rng.randrange(len(INVALID_KINDS))]
                if kind == "no_customer":
                    del body["customer_id"]
                elif kind == "empty_items":
                    body["items"] = []
                elif kind == "zero_quantity":
                    body["items"][-1]["quantity"] = 0
                text = _dump(body)
                if kind == "malformed_json":
                    text = text[: len(text) // 2]
                orders[oid] = Order(oid, f, False)
            else:
                text = _order_line(oid, customer, items, ts)
                orders[oid] = Order(oid, f, True, items)
            lines.append(text)
        files.append(lines)
    inventory = {product(i): STOCK for i in range(N_PRODUCTS)}
    if hot_stock_frac is not None:
        demand = {}
        for o in orders.values():
            for p, q in o.lines:
                demand[p] = demand.get(p, 0) + q
        for i in range(hot):
            p = product(i)
            inventory[p] = int(demand.get(p, 0) * hot_stock_frac)
    return Workload(files, orders, inventory, interval_ms)


def file_bytes(lines):
    return ("\n".join(lines) + "\n").encode()


def inventory_csv(inventory):
    rows = ["product_id,stock"] + ["%s,%d" % kv for kv in sorted(inventory.items())]
    return ("\n".join(rows) + "\n").encode()
