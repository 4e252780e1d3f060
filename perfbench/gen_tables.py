"""Seeded generator of the query battery's ten tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value shapes of the repository's TPC-H-ish test corpus (the
column/type contract ``graft.Tables`` checks). ``scale=1`` gives the
smallest corpus size (150 customers, 1,500 orders, 6,000 line items,
1,000 events, 500 documents, 500 64-d embeddings).

Same seed, same scale -> identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
ADJ = ["cold", "small", "blue", "new", "hot", "red", "large", "old"]
NOUN = ["widget", "rod", "gear", "anvil", "ring", "bolt", "plate", "gizmo"]
PTYPES = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["signup", "click", "error", "purchase", "view"]
LANGS = ["en", "en", "zh", "de", "fr", "es"]
VOCAB = ("the stream query row fast small spark group customer line sort hash "
         "batch dup data filter value big key order table scan merge part "
         "window join slow agg column a vector").split()


def _write(out_dir, name, cols, schema):
    table = pa.table(cols, schema=pa.schema(schema))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def generate(seed, scale, out_dir):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_li, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_doc, n_vec, dim = 500, 500, 64

    _write(out_dir, "region",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    _write(out_dir, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           [("n_nationkey", pa.int32()), ("n_name", pa.string()),
            ("n_regionkey", pa.int32())])

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer",
           {"c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           [("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string())])

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier",
           {"s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
           [("s_suppkey", pa.int64()), ("s_name", pa.string()),
            ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])

    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) * 0.1, 2)
    _write(out_dir, "part",
           {"p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                                   rng.choice(NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": price},
           [("p_partkey", pa.int64()), ("p_name", pa.string()),
            ("p_brand", pa.string()), ("p_type", pa.string()),
            ("p_size", pa.int32()), ("p_retailprice", pa.float64())])

    ok = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders",
           {"o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1),
                                 dt.date(2001, 8, 2), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string())])

    lpart = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": lpart,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[lpart]
                                        * rng.uniform(0.5, 2.5, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2),
                                dt.date(2001, 11, 5), n_li)},
           [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()), ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us"))])

    # events: increasing timestamps over January 2024, a few users
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    _write(out_dir, "events",
           {"event_id": np.arange(n_ev, dtype=np.int64), "ts": ts,
            "user_id": rng.integers(0, 15 * scale, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENTS, n_ev),
            "value": np.round(rng.uniform(0.01, 330, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string())])

    # documents: random vocabulary text; every 20th document is a near
    # copy of an earlier one (one word changed) for the dedup tiers
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           [("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64())])

    # embeddings: unit vectors around ten labelled centroids
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centroids = rng.normal(0, 1, (10, dim))
    vecs = centroids[labels] + rng.normal(0, 0.6, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": [list(v) for v in vecs.astype(np.float32)],
            "label": labels},
           [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32())])
