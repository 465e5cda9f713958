"""Independent checks of the checkout pipeline's outputs.

`replay` re-runs admission sequentially, batch by batch, under the
program's declared semantics: within a batch, each product's lines are
charged in (order_id, quantity) order against the stock the batch
started with; an order is PROCESSED iff every one of its lines fits
under its running charge; FAILED orders still take part in the charge
(admission is pessimistic), but only PROCESSED lines leave stock. An
unknown product counts as stock 0.
"""

from collections import defaultdict

PROCESSED, FAILED = "PROCESSED", "FAILED"


def replay(batches, lines_of, inventory):
    """`batches`: [(batch_id, [order_id, ...])]; `lines_of`: order_id ->
    [(product_id, quantity)]; `inventory`: product_id -> stock.

    Returns (verdicts, final inventory); raises if stock would go
    negative, which the semantics rule out.
    """
    stock = dict(inventory)
    verdicts = {}
    for _, ids in sorted(batches):
        ids = sorted(set(ids))
        by_product = defaultdict(list)
        for oid in ids:
            for p, q in lines_of[oid]:
                by_product[p].append((oid, q))
        ok = {oid: True for oid in ids}
        for p, charged in by_product.items():
            cum = 0
            for oid, q in sorted(charged):
                cum += q
                if cum > stock.get(p, 0):
                    ok[oid] = False
        for oid in ids:
            verdicts[oid] = PROCESSED if ok[oid] else FAILED
        for p, charged in by_product.items():
            if p in stock:
                stock[p] -= sum(q for oid, q in charged if ok[oid])
                if stock[p] < 0:
                    raise AssertionError("stock of %s went negative" % p)
    return verdicts, stock


def check(rows, orders, inventory, final_inventory):
    """Checks the pipeline's verdicts against the generated orders.

    `rows`: [(order_id, status, batch_id)] as written; `orders`:
    order_id -> gen.Order; `inventory`: the seed; `final_inventory`:
    InventoryTable.current() as product_id -> stock.

    Returns (attempted, failures): attempted is the number of distinct
    valid orders plus the number of products, failures a sorted list of
    "<id>: <reason>" strings, one per failed order id or product.
    """
    expected = {oid for oid, o in orders.items() if o.valid}
    seen = defaultdict(list)
    for oid, status, batch in rows:
        seen[oid].append((batch, status))
    bad = {}
    for oid in expected - set(seen):
        bad[oid] = "no verdict"
    for oid in set(seen) - expected:
        bad[oid] = "verdict for an invalid order" if oid in orders else "verdict for an unknown order"
    for oid, got in seen.items():
        if len(got) > 1:
            bad.setdefault(oid, "%d verdicts" % len(got))
    batches = defaultdict(list)
    for oid, got in seen.items():
        if oid in expected:
            for batch, _ in got:
                batches[batch].append(oid)
    want, want_stock = replay(
        list(batches.items()), {oid: orders[oid].lines for oid in expected}, inventory)
    for oid, got in seen.items():
        if oid in want and got[-1][1] != want[oid]:
            bad.setdefault(oid, "status %s, replay says %s" % (got[-1][1], want[oid]))
    for p in sorted(set(want_stock) | set(final_inventory)):
        if want_stock.get(p) != final_inventory.get(p):
            bad[p] = "final stock %s, replay says %s" % (final_inventory.get(p), want_stock.get(p))
    failures = ["%s: %s" % kv for kv in sorted(bad.items())]
    return len(expected) + len(inventory), failures
