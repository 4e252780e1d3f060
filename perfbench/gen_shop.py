"""Seeded Shopify source generator for the ETL workloads.

Writes, for each (store, entity), a JSONL "catalogue" of node versions
sorted by (updatedAt, id). The in-process transport serves the latest
version of each node as of a run's logical time, filtered by the
``updated_at:>`` search the client sends; it never sees this module.

Volumes at ``scale=1`` are the largest the reference logged
(BASELINE.md): retail 393k customers, 35,687 orders, 97,546 line items,
934 products / 1,065 variants; wholesale ~9k customers, 748 orders,
6,577 items, 788 products / 911 variants. Each delta day adds new and
updated orders and customers and re-touches the whole product
catalogue.

The nodes cover the FIXTURES.md must-cover branches: null customer /
shippingAddress, line items with null variant/product/prices, missing
lineItems, flat ``{"amount": ...}`` money, empty/null tags, order names
without ``#``; null defaultAddress/lastOrder/statistics, string
numberOfOrders, null taxExempt; several inventory levels, missing
bucket names, null compareAtPrice, null inventoryItem, non-ACTIVE
status, a SKU repeated across products, SKUs shared by both stores and
null/blank/padded SKUs.

Same seed, same arguments -> byte-identical files.
"""
import datetime as dt
import json
import os
import random

STORES = ("retail", "wholesale")
ENTITIES = ("orders", "customers", "products")
PREFIX = {"retail": "R-", "wholesale": "W-"}

# Largest logged volumes per store (BASELINE.md "Dataset scale").
REF = {
    "retail": dict(customers=393_000, orders=35_687, items=97_546,
                   products=934, variants=1_065),
    "wholesale": dict(customers=9_016, orders=748, items=6_577,
                      products=788, variants=911),
}
# Per delta day at scale 1: new orders, updated orders, new-or-updated
# customers.
DAILY = {
    "retail": dict(new_orders=1_500, upd_orders=500, customers=1_000),
    "wholesale": dict(new_orders=190, upd_orders=60, customers=50),
}
ID_BASE = {
    "retail": dict(order=5_000_000, customer=7_000_000, product=1_000,
                   variant=100_000, item=10_000_000, inv=400_000),
    "wholesale": dict(order=6_000_000, customer=8_000_000, product=50_000,
                      variant=200_000, item=30_000_000, inv=500_000),
}
DAY0 = dt.date(2025, 12, 8)
RUN_TIME = dt.time(5, 45)
WORDS = ("widget", "gadget", "anvil", "gear", "bolt", "plate", "ring", "rod")
TAGS = ("vip", "promo", "wholesale", "gift", "repeat")
CITIES = (("Austin", "TX"), ("Boston", "MA"), ("Denver", "CO"), ("Miami", "FL"))


def run_day(k):
    return DAY0 + dt.timedelta(days=k)


def run_time(k):
    """Logical wall clock of daily run ``k`` (0 = backfill)."""
    return dt.datetime.combine(run_day(k), RUN_TIME)


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def gid(kind, n):
    return f"gid://shopify/{kind}/{n}"


class _Ids:
    def __init__(self, store):
        self.next = dict(ID_BASE[store])

    def take(self, kind):
        n = self.next[kind]
        self.next[kind] += 1
        return n


def _money(rng, amount, flat):
    a = f"{amount:.2f}"
    if flat:
        return {"amount": a}
    return {"shopMoney": {"amount": a, "currencyCode": "USD"}}


def _address(rng, with_phone):
    city, prov = rng.choice(CITIES)
    a = {"address1": f"{rng.randint(1, 999)} Main St", "address2": None,
         "city": city, "province": prov, "country": "US",
         "zip": f"{rng.randint(10000, 99999)}", "company": None}
    if with_phone:
        a["phone"] = None
    return a


def _tags(rng):
    r = rng.random()
    if r < 0.1:
        return None
    if r < 0.4:
        return []
    return rng.sample(TAGS, rng.randint(1, 2))


def _line_items(rng, ids, n, variants):
    edges = []
    for _ in range(n):
        if rng.random() < 0.04:  # deleted product: null variant/product/prices
            node = {"id": gid("LineItem", ids.take("item")),
                    "quantity": rng.randint(1, 5), "title": "Deleted item",
                    "variant": None, "product": None,
                    "originalUnitPriceSet": None,
                    "discountedUnitPriceSet": None}
        else:
            pid, vid, price = rng.choice(variants)
            node = {"id": gid("LineItem", ids.take("item")),
                    "quantity": rng.randint(1, 5),
                    "title": f"Item {vid}",
                    "originalUnitPriceSet": _money(rng, price, False),
                    "discountedUnitPriceSet": _money(rng, price * 0.9, False),
                    "variant": {"id": gid("ProductVariant", vid)},
                    "product": {"id": gid("Product", pid)}}
        edges.append({"node": node})
    return edges


def _order(rng, oid, number, created, updated, edges, customers, status):
    flat = rng.random() < 0.05
    total = sum(5.0 + e["node"]["quantity"] * 10 for e in edges or [])
    node = {
        "id": gid("Order", oid),
        "name": f"#{number}" if rng.random() >= 0.05 else f"{number}",
        "createdAt": iso(created), "updatedAt": iso(updated),
        "processedAt": iso(created), "cancelledAt": None,
        "cancelReason": None, "confirmed": rng.random() >= 0.02,
        "tags": _tags(rng), "displayFulfillmentStatus": status,
        "sourceName": rng.choice(("web", "pos", "api")),
        "subtotalPriceSet": _money(rng, total, flat),
        "totalPriceSet": _money(rng, total * 1.1, flat),
        "totalTaxSet": _money(rng, total * 0.07, flat),
        "totalDiscountsSet": _money(rng, 0.0, flat),
        "totalShippingPriceSet": _money(rng, 5.0, flat),
        "customer": (None if rng.random() < 0.05
                     else {"id": gid("Customer", rng.choice(customers))}),
        "shippingAddress": (None if rng.random() < 0.05
                            else _address(rng, True)),
    }
    if edges is not None:
        node["lineItems"] = {"edges": edges}
    return node


def _customer(rng, cid, created, updated):
    def maybe(p, v):
        return None if rng.random() < p else v
    return {
        "id": gid("Customer", cid),
        "firstName": rng.choice(("Ada", "Alan", "Grace", "Edsger")),
        "lastName": rng.choice(("L", "T", "H", "D")),
        "email": f"c{cid}@example.com", "phone": None,
        "createdAt": iso(created), "updatedAt": iso(updated),
        "state": "ENABLED",
        "taxExempt": maybe(0.1, rng.random() < 0.2),
        "tags": _tags(rng), "note": None,
        "numberOfOrders": str(rng.randint(0, 40)),
        "lifetimeDuration": "about 2 years",
        "amountSpent": {"amount": f"{rng.uniform(0, 5000):.2f}",
                        "currencyCode": "USD"},
        "defaultAddress": maybe(0.1, _address(rng, False)),
        "lastOrder": maybe(0.2, {"id": gid("Order", rng.randint(1, 10**6)),
                                 "createdAt": iso(created)}),
        "statistics": maybe(0.2, {"predictedSpendTier": "HIGH",
                                  "rfmGroup": "CHAMPIONS"}),
    }


def _catalogue(rng, store, ids, n_products, n_variants, shared_skus):
    """Static product structure: [(pid, created, status, title,
    [(vid, sku, price, compare, created, inv_id or None)])]."""
    products = []
    extra = n_variants - n_products
    for i in range(n_products):
        pid = ids.take("product")
        created = dt.datetime(2024, 6, 1) + dt.timedelta(hours=i)
        status = "ACTIVE" if rng.random() >= 0.08 else rng.choice(
            ("DRAFT", "ARCHIVED"))
        nv = 1 + (1 if i < extra else 0)
        variants = []
        for j in range(nv):
            vid = ids.take("variant")
            r = rng.random()
            if r < 0.02:
                sku = None
            elif r < 0.03:
                sku = "   "
            elif shared_skus and r < 0.30:
                sku = rng.choice(shared_skus)  # also sold by the other store
            else:
                sku = f"{store[0].upper()}SKU-{vid}"
                if r > 0.97:
                    sku = f" {sku.lower()} "  # normalised by UPPER(TRIM())
            inv = None if rng.random() < 0.03 else ids.take("inv")
            variants.append((vid, sku, round(rng.uniform(5, 300), 2),
                             None if rng.random() < 0.5
                             else round(rng.uniform(300, 400), 2),
                             created + dt.timedelta(minutes=j), inv))
        products.append((pid, created, status, f"{rng.choice(WORDS)} {i}",
                         variants))
    # whatever the draw, each store's first products carry the must-cover
    # cases: a SKU repeated across two products with different createdAt,
    # a null and a blank SKU, a null inventoryItem and a non-ACTIVE product
    def patch(i, **kw):
        if i < len(products):
            vid, sku, price, compare, vcreated, inv = products[i][4][0]
            v = dict(sku=sku, compare=compare, inv=inv)
            v.update(kw)
            products[i][4][0] = (vid, v["sku"], price, v["compare"],
                                 vcreated, v["inv"])
    if len(products) > 2:
        patch(2, sku=products[1][4][0][1])
    patch(3, sku=None)
    patch(4, sku="   ")
    patch(5, inv=None, compare=None)
    if len(products) > 6:
        p = products[6]
        products[6] = (p[0], p[1], "DRAFT", p[3], p[4])
    return products


def _product_node(rng, p, updated):
    pid, created, status, title, variants = p
    edges = []
    for vid, sku, price, compare, vcreated, inv in variants:
        levels = []
        for _ in range(rng.randint(1, 3)):
            names = ["available", "on_hand", "committed", "incoming",
                     "reserved"]
            if rng.random() < 0.3:
                names = names[:2]  # missing bucket names -> 0
            levels.append({"node": {"quantities": [
                {"name": n, "quantity": rng.randint(0, 50)} for n in names]}})
        edges.append({"node": {
            "id": gid("ProductVariant", vid), "sku": sku,
            "price": f"{price:.2f}",
            "compareAtPrice": None if compare is None else f"{compare:.2f}",
            "availableForSale": status == "ACTIVE",
            "createdAt": iso(vcreated), "updatedAt": iso(updated),
            "inventoryItem": None if inv is None else {
                "id": gid("InventoryItem", inv),
                "inventoryLevels": {"edges": levels}}}})
    return {"id": gid("Product", pid), "title": title,
            "handle": title.replace(" ", "-"), "productType": "Gadget",
            "vendor": "Acme", "status": status, "createdAt": iso(created),
            "updatedAt": iso(updated), "tags": _tags(rng),
            "tracksInventory": True, "variants": {"edges": edges}}


def _stamp(rng, lo, hi):
    span = int((hi - lo).total_seconds())
    return lo + dt.timedelta(seconds=rng.randint(1, span - 1))


def generate(seed, scale, days, out_dir):
    """Write ``<out_dir>/<store>_<entity>.jsonl`` for the backfill (day 0)
    plus ``days`` delta days; returns the number of node versions."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    versions = {(s, e): [] for s in STORES for e in ENTITIES}
    shared = []
    for store in STORES:
        ref, daily, ids = REF[store], DAILY[store], _Ids(store)
        n = {k: max(1, round(v * scale)) for k, v in ref.items()}
        d = {k: max(1, round(v * scale)) for k, v in daily.items()}
        products = _catalogue(rng, store, ids, n["products"],
                              max(n["variants"], n["products"]), shared)
        if store == "retail":
            shared = [v[1] for p in products for v in p[4]
                      if v[1] and v[1].strip()][: max(2, n["variants"] // 3)]
        variants = [(p[0], v[0], v[2]) for p in products for v in p[4]]
        # backfill versions land in (run0 - 3 days, run0 - 45 min)
        lo = run_time(0) - dt.timedelta(days=3, hours=5, minutes=45)
        hi = run_time(0) - dt.timedelta(minutes=45)
        customers = []
        for _ in range(n["customers"]):
            cid = ids.take("customer")
            customers.append(cid)
            t = _stamp(rng, lo, hi)
            versions[(store, "customers")].append(
                _customer(rng, cid, t - dt.timedelta(days=400), t))
        avg_items = n["items"] / n["orders"]
        orders = []

        def new_order(t):
            oid = ids.take("order")
            k = max(1, round(rng.uniform(1, 2 * avg_items - 1)))
            edges = None if rng.random() < 0.02 else _line_items(
                rng, ids, k, variants)
            orders.append([oid, t, edges])
            versions[(store, "orders")].append(_order(
                rng, oid, oid - ID_BASE[store]["order"] + 1001, t, t, edges,
                customers, "UNFULFILLED"))

        for _ in range(n["orders"]):
            new_order(_stamp(rng, lo, hi))
        for p in products:
            versions[(store, "products")].append(
                _product_node(rng, p, _stamp(rng, lo, hi)))
        for k in range(1, days + 1):
            lo, hi = run_time(k - 1) + dt.timedelta(minutes=1), \
                run_time(k) - dt.timedelta(minutes=45)
            for o in rng.sample(orders, min(d["upd_orders"], len(orders))):
                oid, created, edges = o
                if edges:  # the new version drops or adds a line item
                    edges = (edges[:-1] if len(edges) > 1 and rng.random() < 0.5
                             else edges + _line_items(rng, ids, 1, variants))
                o[2] = edges
                versions[(store, "orders")].append(_order(
                    rng, oid, oid - ID_BASE[store]["order"] + 1001, created,
                    _stamp(rng, lo, hi), edges, customers, "FULFILLED"))
            for _ in range(d["new_orders"]):
                new_order(_stamp(rng, lo, hi))
            for _ in range(d["customers"]):
                if rng.random() < 0.5:
                    cid = ids.take("customer")
                    customers.append(cid)
                else:
                    cid = rng.choice(customers)
                t = _stamp(rng, lo, hi)
                versions[(store, "customers")].append(
                    _customer(rng, cid, t - dt.timedelta(days=30), t))
            for p in products:
                versions[(store, "products")].append(
                    _product_node(rng, p, _stamp(rng, lo, hi)))
    total = 0
    for (store, entity), vs in versions.items():
        vs.sort(key=lambda v: (v["updatedAt"], v["id"]))
        with open(os.path.join(out_dir, f"{store}_{entity}.jsonl"), "w",
                  encoding="utf-8", newline="\n") as f:
            for v in vs:
                f.write(json.dumps(v, separators=(",", ":")) + "\n")
        total += len(vs)
    return total


def load(out_dir):
    """Read the catalogue back: {(store, entity): [node, ...]}."""
    cat = {}
    for store in STORES:
        for entity in ENTITIES:
            with open(os.path.join(out_dir, f"{store}_{entity}.jsonl"),
                      encoding="utf-8") as f:
                cat[(store, entity)] = [json.loads(line) for line in f]
    return cat


def served(nodes, now, since):
    """What the transport serves: the latest version of each node with
    updatedAt <= now, kept when updatedAt > since (string compare, as
    the ``updated_at:>`` search does)."""
    latest = {}
    for n in nodes:
        if n["updatedAt"] <= now:
            latest[n["id"]] = n
    return {i: n for i, n in latest.items()
            if since is None or n["updatedAt"] > since}
