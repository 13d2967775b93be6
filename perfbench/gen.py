"""Seeded input generation for the benchmark.

Everything the program reads is made here from the run's seed, before
any timing starts:

* ``tables(dir, sf, seed)`` writes the TPC-H-like parquet star schema
  plus ``events``/``documents``/``embeddings``, with the column names,
  types and value ranges of the repository's scale-factor test data
  (orders 1.5M x sf rows over 1995-01-01..2001-08-01, ~1/3 of them in
  status 'P', which the sync stand-in routes to the NULL-timestamp side
  table).
* ``fake_orders_csv(path, n, seed)`` writes an orders CSV in the
  FakeOrders layout the CSV seed loader reads: ``M/d/yyyy H:mm``
  timestamps, an empty OrderCreatedAt in ~30% of rows, True/False
  booleans, and a few rows with an empty OrderID (dropped by the
  loader's NULL-key rule).
"""
import csv
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01 inclusive
SHIP_DAY0 = dt.date(1995, 1, 2)
EPOCH = dt.date(1970, 1, 1)

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
PRODUCTS = ["Laptop", "Tablet", "Smartphone", "Headphones", "Monitor",
            "Keyboard"]


def _days_to_us(day0, offsets):
    base = (day0 - EPOCH).days
    return (base + offsets.astype(np.int64)) * 86_400_000_000


def _write(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders(out_dir, sf, seed):
    """orders.parquet alone: the only table the sync entry points read."""
    rng = np.random.default_rng([seed, 1])
    n = int(1_500_000 * sf)
    n_cust = max(1, int(150_000 * sf))
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": pa.array(
            _days_to_us(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n)),
            pa.timestamp("us")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    })


def tables(out_dir, sf, seed):
    """The whole catalog input set at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 0])
    i32, i64 = np.int32, np.int64
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    part_names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    keys = np.arange(n_part, dtype=i64)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=i32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1))})
    orders(out_dir, sf, seed)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=i64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=i64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=i32)),
        "l_quantity": pa.array(
            rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(
            _days_to_us(SHIP_DAY0, rng.integers(0, 2499, n_line)),
            pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev, dtype=i64)),
        "ts": pa.array(_days_to_us(dt.date(2024, 1, 1), np.zeros(n_ev))
                       + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=i64)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(WORDS), size=int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs, dtype=i64)),
        "text": pa.array(texts),
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n_docs,
                      p=[0.14, 0.44, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=i64))})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True))
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb, dtype=i64)),
        "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(i32))})


def _mdy_hm(t):
    return f"{t.month}/{t.day}/{t.year} {t.hour}:{t.minute:02d}"


def fake_orders_csv(path, n, seed):
    """FakeOrders-format CSV with ``n`` rows; returns the row count."""
    rng = np.random.default_rng([seed, 2])
    start = dt.datetime(2025, 1, 1)
    span_min = (dt.datetime(2025, 6, 30) - start).days * 24 * 60
    added = rng.integers(0, span_min, n)
    lag = rng.integers(5, 181, n)
    incomplete = rng.random(n) < 0.30
    null_key = rng.random(n) < 0.002
    amount = _money(rng, 100, 2000, n)
    product = rng.integers(0, len(PRODUCTS), n)
    delivered = rng.random(n) < 0.5
    users = rng.integers(1000, 10000, n)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["OrderID", "UserID", "AddedToCartAt", "OrderCreatedAt",
                    "Amount", "Product", "IsDelivered"])
        for i in range(n):
            t0 = start + dt.timedelta(minutes=int(added[i]))
            created = ("" if incomplete[i] else
                       _mdy_hm(t0 + dt.timedelta(minutes=int(lag[i]))))
            w.writerow([
                "" if null_key[i] else i + 1, users[i], _mdy_hm(t0),
                created, f"{amount[i]:.2f}", PRODUCTS[product[i]],
                "True" if delivered[i] and not incomplete[i] else "False"])
    return n
