"""Output checks, run after the timed region.

ETL: gold tables and the run log must match what the generator knows
about the versions each daily run was served. Battery: every query's
result must equal its DuckDB oracle, compared by the repository's
``scripts/check.py`` over the layout ``graft.Verify`` writes.
"""
import datetime as dt
import os
import re
import subprocess

import duckdb

import gen_shop


def _num(gid):
    return gid.rsplit("/", 1)[-1] if gid else None


def _skus(products):
    out = set()
    for p in products.values():
        if p["status"] != "ACTIVE":
            continue
        for e in p["variants"]["edges"]:
            sku = e["node"]["sku"]
            if sku is not None and sku.strip():
                out.add(sku.strip().upper())
    return out


def expected_since(day, prev_watermark):
    """EtlRunLog.resolveStartDate: 3 days back with no history, else two
    days before the last success's watermark date."""
    today = gen_shop.run_day(day)
    if prev_watermark is None:
        return today - dt.timedelta(days=3)
    last = dt.date.fromisoformat(prev_watermark[:10])
    return today - dt.timedelta(days=2 + max((today - last).days, 0))


def check_etl(catalog, root, days):
    """Problems found in one episode's outputs; ``days`` are the
    harness's day records for that episode, in order."""
    cat = gen_shop.load(catalog)
    problems = []
    last_served = {}      # (store, entity) -> {id: node} of the last day
    orders = {}           # order id -> node of the last day it was served
    watermark = {}
    for d in days:
        k = d["day"]
        now = gen_shop.iso(gen_shop.run_time(k))
        for store in gen_shop.STORES:
            for entity in gen_shop.ENTITIES:
                key = f"{store}/{entity}"
                want = expected_since(k, watermark.get((store, entity)))
                got = d["since"].get(key)
                if got != want.isoformat():
                    problems.append(f"day {k} {key}: watermark start {got}, "
                                    f"expected {want}")
                    continue
                s = gen_shop.served(cat[(store, entity)], now, got)
                last_served[(store, entity)] = s
                if s:
                    watermark[(store, entity)] = max(
                        n["updatedAt"] for n in s.values())
                if entity == "orders":
                    pre = gen_shop.PREFIX[store]
                    orders.update({pre + _num(i): n for i, n in s.items()})
    if problems:
        return problems
    con = duckdb.connect()

    def rows(sql):
        return con.sql(sql).fetchall()

    gold = os.path.join(root, "gold")
    pq = lambda t: (f"read_parquet('{gold}/{t}/**/*.parquet', "
                    "hive_partitioning=true, union_by_name=true)")
    got = dict(rows(f"SELECT order_id, updated_at FROM {pq('fact_orders')}"))
    want = {i: n["updatedAt"] for i, n in orders.items()}
    n_rows = rows(f"SELECT count(*) FROM {pq('fact_orders')}")[0][0]
    if n_rows != len(want) or got != want:
        problems.append(f"fact_orders: {n_rows} rows, {len(want)} orders "
                        "expected at their latest updated_at")
    got_items = set(rows(f"SELECT order_id, line_item_id, quantity "
                         f"FROM {pq('fact_order_items')}"))
    want_items = set()
    for oid, n in orders.items():
        pre = oid[:2]
        for e in (n.get("lineItems") or {}).get("edges", []):
            want_items.add((oid, pre + _num(e["node"]["id"]),
                            e["node"]["quantity"]))
    if got_items != want_items:
        problems.append(f"fact_order_items: {len(got_items)} rows, "
                        f"{len(want_items)} expected (latest versions' items)")
    want_c = {gen_shop.PREFIX[s] + _num(i) for s in gen_shop.STORES
              for i in last_served[(s, "customers")]}
    got_c = {r[0] for r in rows(
        f"SELECT customer_id FROM {pq('dim_customers')}")}
    if got_c != want_c:
        problems.append(f"dim_customers: {len(got_c)} rows, {len(want_c)} "
                        "expected (last day's customers)")
    prods = {s: last_served[(s, "products")] for s in gen_shop.STORES}
    want_v = sum(len(p["variants"]["edges"]) for s in prods
                 for p in prods[s].values())
    got_v = rows(f"SELECT count(*) FROM {pq('dim_product_variants')}")[0][0]
    if got_v != want_v:
        problems.append(f"dim_product_variants: {got_v} rows, {want_v} "
                        "expected")
    want_sku = _skus(prods["retail"]) | _skus(prods["wholesale"])
    got_sku = [r[0] for r in rows(
        f"SELECT sku FROM {pq('fact_current_inventory')}")]
    if len(got_sku) != len(set(got_sku)) or set(got_sku) != want_sku:
        problems.append(f"fact_current_inventory: {len(got_sku)} SKU rows, "
                        f"{len(want_sku)} distinct SKUs expected")
    log = os.path.join(root, "state", "etl_run_log")
    runs = rows(f"""
        SELECT id, storeName, entityName, status, sourceUpdatedAt FROM (
          SELECT *, row_number() OVER (PARTITION BY id
                                       ORDER BY ingestedAt DESC) rn
          FROM read_parquet('{log}/*.parquet')) WHERE rn = 1""")
    bad = [r for r in runs if r[3] != "SUCCESS"]
    if bad or len(runs) != 6 * len(days):
        problems.append(f"run log: {len(runs)} runs, {len(bad)} not SUCCESS; "
                        f"{6 * len(days)} SUCCESS runs expected")
    latest = {}
    for r in sorted(runs):
        if r[4] is not None:
            latest[(r[1], r[2])] = r[4]
    gold_max = {}
    for s in gen_shop.STORES:
        pre = gen_shop.PREFIX[s]
        gold_max[(s, "orders")] = rows(
            f"SELECT max(updated_at) FROM {pq('fact_orders')} "
            f"WHERE order_id LIKE '{pre}%'")[0][0]
        gold_max[(s, "customers")] = rows(
            f"SELECT max(updated_at) FROM {pq('dim_customers')} "
            f"WHERE customer_id LIKE '{pre}%'")[0][0]
        ids = ",".join(f"'{_num(i)}'" for i in prods[s])
        gold_max[(s, "products")] = rows(
            f"SELECT max(updated_at) FROM {pq('dim_products')} "
            f"WHERE product_id IN ({ids})")[0][0]
    for key, wm in sorted(gold_max.items()):
        if latest.get(key) != wm or watermark.get(key) != wm:
            problems.append(f"watermark {key}: run log {latest.get(key)}, "
                            f"max merged updated_at {wm}")
    return problems


def check_battery(root, data_dir, dump_dir):
    """(names that failed the oracle, number of oracle-checked queries,
    problems running the check itself)."""
    script = os.path.join(root, "scripts", "check.py")
    r = subprocess.run(["python3", script, data_dir, dump_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    failed = re.findall(r"^FAIL (\S+?):", r.stdout, re.M)
    m = re.search(r"(\d+) passed, (\d+) failed, (\d+) total", r.stdout)
    if not m:
        return failed, 0, [f"oracle check did not finish: {r.stdout[-500:]}"]
    return failed, int(m.group(3)), []
